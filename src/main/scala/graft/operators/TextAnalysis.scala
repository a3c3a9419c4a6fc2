package graft.operators

import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, QueryPack, Tables}

/** Text-analysis operators for the training-data-pipeline track: token
  * counting, quality scoring, language ID, term statistics — all pure
  * `functions._` column expressions (whole-stage-codegen friendly, no
  * UDFs) with DuckDB oracles. Regexes stick to constructs with
  * identical Java-regex / RE2 semantics.
  *
  * At 100 TB these are embarrassingly parallel scans; the only shuffle
  * is the term-frequency groupBy, whose key cardinality (vocabulary) is
  * tiny relative to the corpus, so map-side partial aggregation
  * collapses nearly all traffic.
  */
object TextAnalysis extends QueryPack {

  /** Shared token definition — see [[graft.functions.TextTokens]]. */
  private def tokens: org.apache.spark.sql.Column =
    graft.functions.TextTokens.tokens

  /** DuckDB twin of the fused double-prime fingerprint (single-sourced
    * next to the Scala implementation in [[graft.functions.RollingHash]]). */
  private def fp2Sql(v: String): String = graft.functions.RollingHash.fp2Sql(v)

  // PII patterns — Java-regex and RE2 read these identically (no \s,
  // no backreferences, no lookaround); single-sourced so the Spark
  // expression and the DuckDB oracle cannot diverge.
  /** Vocabulary size for `llm_vocab_coverage` — small against the
    * fixture's ~31-term vocabulary so OOV rates are non-trivial; a
    * production tokenizer run sizes this in the tens of thousands (the
    * mechanism is K-invariant: the vocab is always a broadcast). */
  private val VocabK = 10

  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "555-[0-9]{4}"

  /** Blocklist fixture for `llm_blocklist_match` — single-sourced into
    * the oracle's VALUES list. Deliberately includes NESTED patterns
    * ("table"/"able", "scan"/"row scan", "window"/"stream window") so
    * the all-occurrences contract (overlaps counted, every suffix
    * pattern reported via the failure-chain closure) is load-bearing,
    * plus one pattern absent from the corpus. */
  private val BlocklistPats = Seq(
    "slow filter", "big table", "table", "able", "row scan",
    "scan", "stream window", "window", "never matches anything")

  /** Minimum token length for an emitted duplicated span
    * (`llm_dup_spans`). Lee et al. 2022 use 50 BPE tokens against
    * web-scale corpora; the fixture's documents are short, so the
    * threshold sits above the W=8 window (any single duplicated
    * window would qualify otherwise) but low enough that organic
    * cross-doc repetition in the fixture surfaces. */
  private val DupSpanMinLen = 12

  /** BM25 query term set (`llm_bm25_topk`): four near-ubiquitous terms
    * (df ≈ 390/500 at sf0.01 — idf ≈ 0.24, ranking driven by tf and
    * length normalization) plus the rare `dup` (df = 25 — idf ≈ 3.0,
    * its presence dominates), so the top list exercises BOTH halves
    * of the score. A deployment parameterizes this list; the plan is
    * term-count-invariant (membership filter + broadcast idf join). */
  private val BmQueryTerms: Seq[String] =
    Seq("spark", "hash", "window", "merge", "dup")
  private val BmQueryTermsSql: String =
    BmQueryTerms.map(t => s"'$t'").mkString(", ")

  /** Documents returned by the BM25 ranking. */
  private val BmK = 10

  /** Per-document integer BM25 scores for [[BmQueryTerms]] — the
    * pipeline behind `llm_bm25_topk`, factored out so the hybrid
    * RRF fusion (`llm_hybrid_rrf`) ranks with EXACTLY the same
    * arithmetic. Returns (doc_id, score_u). */
  private[operators] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(tokens).as("term"))
    val dl = Tables.documents(s, d)
      .select($"doc_id", size(tokens).cast(LongType).as("dl"))
      .filter($"dl" >= 1)
      .pin() // feeds the stats aggregate AND the score join
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sumdl"))
      .withColumn("avg_u",
        expr("(sumdl div n_docs) * 1000000 + " +
          "((sumdl % n_docs) * 1000000) div n_docs"))
    val tf = toks.filter($"term".isin(BmQueryTerms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .pin() // feeds df AND the per-doc score
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = dfreq.crossJoin(broadcast(stats))
      .select($"term",
        expr("cast(round(ln((2.0*n_docs + 2.0)/(2.0*df + 1.0)), 6) " +
          "as decimal(20,6))").as("idf_d6"))
    tf
      .join(dl, Seq("doc_id"))
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(stats.select($"avg_u")))
      .withColumn("r_u", expr("(dl * 1000000) div avg_u"))
      .withColumn("den", lit(10000000L) * $"tf" + lit(3000000L) +
        lit(9L) * $"r_u")
      .withColumn("ratio_u",
        expr("(cast(22000000 * tf as decimal(38,0)) * 1000000) div den"))
      .groupBy($"doc_id")
      .agg(expr("cast(floor(sum(idf_d6 * ratio_u)) as bigint)")
        .as("score_u"))
  }

  /** The BM25 oracle CTE chain up to `scored` (doc_id, score_u) —
    * shared by `llm_bm25_topk` and `llm_hybrid_rrf` so the two
    * rankings can never diverge in SQL either. */
  private val Bm25ScoredCtes: String = s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        dl AS (
          SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl
          FROM toks WHERE len(tokens) >= 1),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sumdl
          FROM dl),
        st AS (
          SELECT n_docs, sumdl,
                 (sumdl // n_docs) * 1000000 +
                   ((sumdl % n_docs) * 1000000) // n_docs AS avg_u
          FROM stats),
        t AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM t
          WHERE term IN ($BmQueryTermsSql)
          GROUP BY doc_id, term),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        idf AS (
          SELECT term,
                 CAST(round(ln((2.0*st.n_docs + 2.0)/(2.0*df + 1.0)), 6)
                      AS DECIMAL(20,6)) AS idf_d6
          FROM dfq, st),
        scored AS (
          SELECT tf.doc_id,
            CAST(FLOOR(SUM(idf.idf_d6 *
              ((CAST(22000000 * tf.tf AS HUGEINT) * 1000000) //
               (10000000 * tf.tf + 3000000 +
                9 * ((dl.dl * 1000000) // st.avg_u))))) AS BIGINT) AS score_u
          FROM tf
          JOIN dl ON dl.doc_id = tf.doc_id
          JOIN idf ON idf.term = tf.term
          CROSS JOIN st
          GROUP BY tf.doc_id)"""

  /** Maximal cross-document duplicated spans over a (doc_id, text)
    * frame — the Lee et al. 2022 exact-substring removal operator
    * re-expressed as a windowed fold + fp-equality join (see
    * `llm_dup_spans`). Exposed to DedupSpecs so the planted-duplicate
    * reconstruction gate runs the same code as the query. */
  private[operators] def dupSpans(docs: DataFrame, minLen: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wfp = docs
      .withColumn("tokens", tokens)
      .filter(size($"tokens") >= 8)
      .select($"doc_id", expr(
        """transform(sequence(1, size(tokens) - 7), i ->
             concat_ws(' ', slice(tokens, i, 8)))""").as("grams"))
      .transform(graft.functions.TextTokens.materialized)
      .select($"doc_id", posexplode($"grams").as(Seq("j", "gram")))
      .withColumn("fp", graft.functions.RollingHash.rolling_hash2($"gram"))
      .select($"doc_id", $"j", $"fp")
      .pin() // fp doc-count agg + span join both read it
    val dupFps = wfp.select($"doc_id", $"fp").distinct()
      .groupBy($"fp").agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" >= 2)
      .select($"fp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"j")
    wfp.join(dupFps, Seq("fp"))
      .select($"doc_id", $"j")
      .withColumn("grp", $"j" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"j").as("jmin"), max($"j").as("jmax"))
      .filter($"jmax" - $"jmin" + 8 >= minLen)
      .select($"doc_id", $"jmin".cast(LongType).as("start"),
        ($"jmax" - $"jmin" + 8).cast(LongType).as("len"))
      .orderBy($"doc_id", $"start")
  }

  /** Applies the duplicated-span REMOVAL (the output Lee et al. 2022's
    * pipeline actually consumes): cut every maximal duplicated span ≥
    * `minLen` tokens from each NON-canonical document — the canonical
    * copy (the MIN doc_id among the documents sharing each duplicated
    * window) keeps its text — and re-derive token counts. Emits
    * (doc_id, n_tokens, n_tokens_clean, clean_text) for the WHOLE
    * corpus; untouched documents pass through byte-exact.
    *
    * Plan shape: same wfp scan + fp-keyed aggregate as [[dupSpans]]
    * (min(doc_id) rides the existing groupBy for free), islands are a
    * per-doc window over duplicated positions only, and the apply is
    * ONE equality join of the corpus against the doc-keyed span lists
    * (tiny relative to the corpus) followed by the native compiled
    * [[graft.functions.SpanCut]] projection — map-only, no per-token
    * explode on the Spark side, O(tokens + spans) per doc. Spans MAY
    * overlap (islands whose gram positions sit closer than the
    * 8-token window yield overlapping [s_lo, s_hi) intervals); a
    * token is dropped iff it falls inside ANY span — union coverage,
    * insensitive to overlap, identical in both engines. The prior HOF
    * formulation (per-token `exists` over the span array) ran
    * interpreted (CodegenFallback) at O(tokens × spans) — the A/B
    * that retired it is in BASELINE.md. Exposed for
    * TextAnalysisSpec's planted-duplicate gates. */
  private[operators] def dupSpansApply(docs: DataFrame, minLen: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .withColumn("tokens", tokens)
      .select($"doc_id", $"tokens")
      .pin() // the wfp scan + the apply join both read it
    val wfp = toks
      .filter(size($"tokens") >= 8)
      .select($"doc_id", expr(
        """transform(sequence(1, size(tokens) - 7), i ->
             concat_ws(' ', slice(tokens, i, 8)))""").as("grams"))
      .transform(graft.functions.TextTokens.materialized)
      .select($"doc_id", posexplode($"grams").as(Seq("j", "gram")))
      .withColumn("fp", graft.functions.RollingHash.rolling_hash2($"gram"))
      .select($"doc_id", $"j", $"fp")
      .pin()
    // duplicated fps with their canonical owner: min doc_id keeps
    val dupFps = wfp.select($"doc_id", $"fp").distinct()
      .groupBy($"fp").agg(countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("min_doc"))
      .filter($"n_docs" >= 2)
      .select($"fp", $"min_doc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"j")
    val spans = wfp.join(dupFps, Seq("fp"))
      .filter($"doc_id" > $"min_doc") // non-canonical occurrences only
      .select($"doc_id", $"j")
      .withColumn("grp", $"j" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"j").as("jmin"), max($"j").as("jmax"))
      .filter($"jmax" - $"jmin" + 8 >= minLen)
      .select($"doc_id", $"jmin".cast(LongType).as("s_lo"),
        ($"jmax" + 8).cast(LongType).as("s_hi")) // token idx [s_lo, s_hi)
    val spanArr = spans.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s_lo", $"s_hi"))).as("spans"))
    toks.join(spanArr, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"tokens").cast(LongType).as("n_tokens"),
        // the left join leaves the untouched majority with NULL spans;
        // SpanCut is null-intolerant, so map that to the empty span
        // list (= keep every token) before the compiled sweep
        graft.functions.SpanCut.span_cut($"tokens",
          coalesce($"spans",
            expr("cast(array() as array<struct<s_lo: bigint, s_hi: bigint>>)")))
          .as("sc"))
      .select($"doc_id", $"n_tokens",
        $"sc".getField("n_kept").as("n_tokens_clean"),
        $"sc".getField("clean_text").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Exact repeated-substring structure via a DISTRIBUTED SUFFIX ARRAY
    * (prefix doubling — Manber–Myers, the formulation Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" build
    * their exact-substring dedup on). The fingerprint family above is
    * fixed-granularity: a repeat shorter than the 8-token window is
    * invisible to `llm_dup_spans`/`llm_repeated_spans` no matter how
    * exact the rest of the stack is. Here detection is exact at ANY
    * length threshold: for every token position, `maxrep` = the length
    * of the longest substring starting there that occurs ≥ 2 times
    * anywhere in the corpus (cross- OR intra-document).
    *
    * Mechanism, all in the repo's range-sort machinery (never a
    * single-task window):
    *   1. Token positions get contiguous global ids per doc
    *      ([[Relational.globalPrefixSum]] over doc lengths), with a
    *      per-doc UNIQUE sentinel appended — so suffix comparisons
    *      can never run across a document boundary, and the doubling
    *      converges once the window covers the longest DOCUMENT, not
    *      the corpus: rounds = ⌈log₂(max doc tokens + 1)⌉, identical
    *      at sf0.01 and at 100 TB of same-shaped documents.
    *   2. Initial ranks: dense term ranks ([[Relational.globalRank]]
    *      over the distinct vocabulary); sentinel of the r-th doc
    *      ranks V + r (pairwise distinct, above every real token).
    *   3. Each doubling round self-joins the rank table at offset
    *      2^k (one equality join) and re-keys the (rk, rk2) pairs —
    *      alternating a map-only COMPOSITE key (r1·(n+2) + r2+1,
    *      order-preserving and tie-equal while the inputs are dense;
    *      n < 2³¹ guard, past which every round sorts) with a dense
    *      re-rank (distinct + globalRank + join back). The round
    *      count is fixed upfront by ⌈log₂(max dlen)⌉ — no per-round
    *      convergence probes. All intermediate levels are retained,
    *      each checkpointed so the offset join runs exactly once.
    *   4. Final ranks are dense and distinct = the suffix array
    *      itself; adjacent suffix pairs are ONE self-join on rank+1.
    *   5. LCP of each adjacent pair by the standard descending walk
    *      over the retained levels: if level-k ranks at (a+lcp,
    *      b+lcp) agree, the suffixes share those 2^k tokens — two
    *      equality joins per level, log(max doc len) levels.
    *   6. Per position: maxrep = max(LCP with SA-predecessor, with
    *      SA-successor) — exact by the suffix-array LCP lemma (any
    *      non-adjacent pair's LCP is the min over the adjacent LCPs
    *      between them, and sentinels sort after every real suffix,
    *      so they never sit between real neighbors).
    *
    * The alphabet order is internal only — ANY total token order
    * yields the same maxrep — so the DuckDB oracle checks values by a
    * mechanism-independent brute force (every (position, length) gram
    * counted corpus-wide), never replaying the doubling. Emits one
    * row per non-empty doc: (doc_id, n_tokens, n_dup_pos ≥ minLen,
    * max_rep_len). Driver footprint: one Long per round + the two
    * prefix/rank offset lists — O(partitions + rounds). */
  /** The frozen artifacts of one [[suffixIndex]] build — everything a
    * later APPEND ([[suffixDupsAppend]]) reads without re-ranking:
    * per-level rank tables (dense iff `dense` was requested), the
    * final ranks (= the suffix array), adjacent-suffix LCPs keyed by
    * SA position, per-position longest-repeat lengths, and the term
    * index. `gid`s occupy `[gidBase, gidBase + nTotal)`. */
  private[operators] final case class SuffixIndex(
      real: DataFrame,                   // (doc_id, gid, term)
      levels: Vector[(Long, DataFrame)], // dense/append mode: (span,
                                         //   (gid, rk)), last = final —
                                         //   the append's frozen ladder;
                                         // batch mode: (s, (gid, r1,
                                         //   r2, r3)) quad walk probes
                                         //   (internal to the build)
      finalRanks: DataFrame,             // (gid, rk) dense distinct = SA
      adjLcp: DataFrame,                 // (sap, ga, gb, lcp); ga=SA[sap]
      perPos: DataFrame,                 // (doc_id, gid, maxrep) real pos
      termIdx: DataFrame,                // (term, trk) dense [0, vocab)
      vocab: Long,
      nDocs: Long,                       // docs with >= 1 token
      nTotal: Long,                      // gids = tokens + sentinels
      maxLen: Long,                      // max per-doc dlen (tokens + 1)
      gidBase: Long)

  /** Label the jobs `body` submits (guide §1.5) — thread-local, reset
    * after, so the attribution is exact and costs nothing. */
  private def labeled[A](s: SparkSession, what: String)(body: => A): A = {
    s.sparkContext.setJobDescription(what)
    try body finally s.sparkContext.setJobDescription(null)
  }

  /** Per-doc aggregate over a per-position longest-repeat table — the
    * shared tail of [[suffixDups]] and [[suffixDupsAppend]]. */
  private def aggDups(perPos: DataFrame, minLen: Int): DataFrame = {
    val s = perPos.sparkSession
    import s.implicits._
    perPos.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"maxrep" >= minLen, 1L).otherwise(0L)).as("n_dup_pos"),
        max($"maxrep").as("max_rep_len"))
      .orderBy($"doc_id")
  }

  private[operators] def suffixDups(docs: DataFrame, minLen: Int): DataFrame =
    suffixIndex(docs, dense = false, gidBase = 0L, minSpan = 1L) match {
      case None =>
        val s = docs.sparkSession
        import s.implicits._
        docs.limit(0).select($"doc_id", lit(0L).as("n_tokens"),
          lit(0L).as("n_dup_pos"), lit(0L).as("max_rep_len"))
      case Some(ix) => aggDups(ix.perPos, minLen)
    }

  /** Cross-split contamination at ANY length: for every EVAL-split
    * document position, the longest substring starting there that also
    * occurs ANYWHERE in the train split — read off the shared
    * [[suffixIndex]], never a pairwise comparison.
    *
    * Mechanism (the nearest-other-split SA scan, Manber–Myers LCP
    * lemma): the LCP of two arbitrary suffixes is the MIN of the
    * adjacent-pair LCPs between their SA positions, so the best train
    * match for an eval suffix is realized at the NEAREST train suffix
    * above or below it in SA order (a longer span can only lower the
    * min). Both directions reduce to segment scans: ONE global prefix
    * count of train positions over SA order splits the array into
    * train-delimited segments, and within each segment a running MIN
    * of the adjacent LCPs (a window whose partitions are the
    * inter-train gaps — thousands of tiny partitions, never a global
    * window) prices every eval position's chain back to its delimiter.
    * Sentinel positions ride along as chain links with LCP 0, which is
    * exactly right — a shared substring cannot cross a document
    * boundary. Work beyond the index build: one prefix sum + two
    * segment windows + equality joins, all O(n). The eval gate is the
    * SAME multiplicative hash `llm_train_val_split` trains on, so the
    * report prices the actual split. */
  private[operators] def suffixContamination(
      docs: DataFrame, minLen: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val evalGate =
      "((doc_id % 1000003) * 2654435761) % 1000000 >= 900000"
    suffixIndex(docs, dense = false, gidBase = 0L, minSpan = 1L) match {
      case None =>
        docs.limit(0).select($"doc_id", lit(0L).as("n_tokens"),
          lit(0L).as("n_contam_pos"), lit(0L).as("max_shared_len"))
      case Some(ix) =>
        val lcpD = ix.adjLcp.select($"sap", $"lcp".as("lcp_down"))
        val rows = ix.finalRanks
          .join(ix.real.select($"gid", $"doc_id"), Seq("gid"), "left")
          .select($"rk".as("sap"), $"doc_id",
            when($"doc_id".isNotNull && expr(evalGate), 1L)
              .otherwise(0L).as("is_eval"),
            when($"doc_id".isNotNull && !expr(evalGate), 1L)
              .otherwise(0L).as("is_train"))
          .join(lcpD, Seq("sap"), "left")
          .join(lcpD.select(($"sap" + 1L).as("sap"),
            $"lcp_down".as("lcp_up")), Seq("sap"), "left")
        val ps = Relational.globalPrefixSum(s, rows, Seq($"sap"), "is_train")
          .withColumnRenamed("psum", "cnt_t")
          .transform(Shim.cutCheckpoint) // the total + both windows read it
        val tot = ps.agg(max($"cnt_t").as("tot_t"))
        val seg = ps.crossJoin(broadcast(tot))
          .withColumn("seg_t_desc", $"tot_t" - $"cnt_t" + $"is_train")
        // ascending pass: chain min back DOWN to the nearest train
        // suffix (the segment's first row — its own entering edge is
        // outside the chain, hence nulled); descending pass mirrors
        val wDown = Window.partitionBy($"cnt_t").orderBy($"sap")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wUp = Window.partitionBy($"seg_t_desc").orderBy($"sap".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val best = seg
          .withColumn("best_down", when($"cnt_t" === 0L, lit(null))
            .otherwise(min(when($"is_train" === 1L, lit(null))
              .otherwise($"lcp_up")).over(wDown)))
          .withColumn("best_up", when($"seg_t_desc" === 0L, lit(null))
            .otherwise(min(when($"is_train" === 1L, lit(null))
              .otherwise($"lcp_down")).over(wUp)))
        best.filter($"is_eval" === 1L)
          .withColumn("shared", greatest(
            coalesce($"best_down", lit(0L)),
            coalesce($"best_up", lit(0L))))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when($"shared" >= minLen, 1L).otherwise(0L))
              .as("n_contam_pos"),
            max($"shared").as("max_shared_len"))
          .orderBy($"doc_id")
    }
  }

  /** Builds the corpus suffix index (see the algorithm notes above) and
    * returns its artifacts; None when the corpus has no tokens.
    *
    * @param dense   force the sort path every doubling round so EVERY
    *                level table carries dense ranks — required when the
    *                index will serve as the frozen base of an append
    *                (the append's floor arithmetic indexes old keys by
    *                dense position); the plain batch query keeps the
    *                cheaper alternating composite rounds.
    * @param gidBase first gid (an append's shard starts after the base)
    * @param minSpan doubling continues until span >= max(maxLen,
    *                minSpan) — an append must run to the COMBINED
    *                maximum document length so floors refine all the
    *                way to old FINAL ranks. */
  private[operators] def suffixIndex(
      docs: DataFrame, dense: Boolean, gidBase: Long,
      minSpan: Long): Option[SuffixIndex] = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = labeled(s, "suffix: tokenize") { docs
      .withColumn("tokens", tokens)
      .select($"doc_id", $"tokens")
      .filter(size($"tokens") >= 1)
      .transform(Shim.cutCheckpoint) } // offsets, positions, sentinels all read it
    val lens = toks.select($"doc_id",
      (size($"tokens") + 1).cast(LongType).as("dlen")) // +1: the sentinel
    // Corpus extents FIRST: they size every range layout below. The
    // round count is known upfront (per-doc sentinels, see below), and
    // partition counts are sized to the data (~64k keys/partition,
    // capped at the cluster parallelism) — a 275k-token corpus on 32
    // cores otherwise pays 32 near-empty sort tasks per round, and the
    // fixed per-task/per-stage overhead, not the data, dominates.
    val mm = labeled(s, "suffix: extents")(
      lens.agg(max($"dlen"), sum($"dlen"), count(lit(1))).head)
    if (mm.isNullAt(0)) return None // empty corpus: nothing to rank
    val (maxLen, nTotal, nDocs) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2))
    // ~64k keys/partition locally (the fixed per-task overhead, not
    // the data, dominates below that; r17 A/B re-checked 16k for the
    // fatter quad rounds — panel 5.5 -> 5.9 s, the extra task
    // overhead beat the parallelism, so 64k stays), but never FEWER
    // than n/4M partitions at cluster scale — capping at the core
    // count alone would hand a trillion-token corpus multi-GB sort
    // partitions
    def sized(n: Long): Int = {
      val dp = s.sparkContext.defaultParallelism.toLong
      math.max(1L, math.min(math.min(Int.MaxValue.toLong,
        math.max(dp, n / 4000000L)), n / 65536L + 1L)).toInt
    }
    // offsets AND doc ranks in ONE range pass: docrk is the free row
    // index of the same (doc_id)-sorted layout the prefix sum builds
    val docMeta = labeled(s, "suffix: offsets")(
      Relational.globalPrefixSum(s, lens, Seq($"doc_id"),
        "dlen", sized(nDocs), rankCol = "docrk"))
      .withColumn("off", $"psum" - $"dlen" + lit(gidBase))
      .select($"doc_id", $"off", $"docrk")
    val withOff = labeled(s, "suffix: attach offsets")(
      toks.join(docMeta, Seq("doc_id"))
        .transform(Shim.cutCheckpoint)) // real positions + sentinels both read it
    val real = labeled(s, "suffix: positions") { withOff
      .select($"doc_id", $"off", $"tokens")
      .transform(graft.functions.TextTokens.materialized)
      .select($"doc_id", $"off", posexplode($"tokens").as(Seq("p", "term")))
      .select($"doc_id", ($"off" + $"p").as("gid"), $"term")
      .transform(Shim.cutCheckpoint) } // term ranking + r0 + the final mapping
    var vocab = 0L // filled by the rank passes' own counts collects
    // Term ranking, two shapes: the APPEND base (dense = true) must
    // persist the (term, trk) directory — its vocabulary merges join
    // it — so it pays distinct + rank + join-back; the batch path
    // dense-ranks `real` directly in ONE range pass (equal terms get
    // equal ranks), and the directory stays a LAZY projection nothing
    // on the batch path ever executes.
    val (r0core, termRanks) = labeled(s, "suffix: r0 rank") { if (dense) {
      val tr = Relational.globalRank(s,
          real.select($"term").distinct(), Seq($"term"), sized(nTotal),
          onCount = vocab = _)
        .withColumnRenamed("rk", "trk")
        .transform(Shim.cutCheckpoint) // r0 + the append's level-0 floor both read
      (real.join(tr, Seq("term")).select($"gid", $"trk".as("rk")), tr)
    } else {
      val ranked = Relational.globalDenseRank(s,
        real.select($"gid", $"term"), Seq("term"), sized(nTotal),
        onDistinct = vocab = _)
      (ranked.select($"gid", $"rk"),
        ranked.select($"term", $"rk".as("trk")).distinct())
    } }
    if (vocab == 0L) return None // empty corpus: nothing to rank
    // r0 stays cut: its lineage re-reads the TERM-string-bearing rank
    // pin plus the token-array withOff pin, and the quad round-1 pivot
    // union reads it FOUR times — the narrow 2-long materialization is
    // cheaper than 4 wide block re-reads (r17 A/B: dropping this cut
    // measured +0.7 s of task time on the round-1 pivot map).
    val r0 = labeled(s, "suffix: r0") { r0core
      .unionByName(withOff.select(
        ($"off" + size($"tokens")).as("gid"),
        (lit(vocab) + $"docrk").as("rk")))
      .transform(Shim.cutCheckpoint) }
    // The round count is known UPFRONT: per-doc unique sentinels make
    // every suffix distinct once the window covers the longest doc
    // (incl. its sentinel) — one O(1)-row aggregate (already taken
    // above) instead of a convergence probe per round.
    val target = math.max(maxLen, minSpan)
    var cur = r0
    var levels = Vector.empty[(Long, DataFrame)]
    if (dense) {
      // APPEND-BASE build (dense): classic pair DOUBLING, every round
      // the sort path — the append's per-level floor arithmetic
      // (maj/mn refinement, dk directories) indexes halving levels, so
      // this mode's level ladder is part of the frozen-index contract
      // and stays byte-stable. The (r1, r2) pairing is a tag-union +
      // ONE group-pivot instead of a gid self-join (r16): gids are
      // unique, so the left join on gid is exactly "pivot the two
      // tagged copies by gid" — one exchange of 2n tagged rows
      // replaces the join's two n-row exchanges (guide §2.4). A gid
      // whose side-0 copy is absent is dropped by the r1 filter (the
      // old join's left semantics); an absent side-1 copy coalesces
      // to the same -1. The pre-rank cut of `paired` was DROPPED in
      // r17: since the pin-with-stats shim, globalDenseRank plans its
      // input ONCE, so its range-sampling job and its pin job share
      // the pairing's shuffle stage at the RDD level — the r16-era
      // "~3x per round" recompute came from the old
      // distinct/rank/join-back triple re-PLANNING the input per
      // action, which no longer exists.
      levels = Vector((1L, r0))
      var span = 1L
      while (span < target) { labeled(s, s"suffix: round span=$span") {
        val paired = cur.select($"gid", $"rk", lit(0).as("__sd"))
          .unionByName(
            cur.select(($"gid" - span).as("gid"), $"rk", lit(1).as("__sd")))
          .groupBy($"gid")
          .agg(max(when($"__sd" === 0, $"rk")).as("r1"),
            coalesce(max(when($"__sd" === 1, $"rk")), lit(-1L)).as("r2"))
          .filter($"r1".isNotNull)
          .select($"gid", $"r1", $"r2")
        cur = Relational.globalDenseRank(s, paired, Seq("r1", "r2"),
            sized(nTotal))
          .select($"gid", $"rk")
      }
        span *= 2
        levels = levels :+ ((span, cur))
      }
    } else {
      // BATCH build (r17): prefix-QUADRUPLING — each round ranks the
      // tuple (rk[g], rk[g+s], rk[g+2s], rk[g+3s]) so the span grows
      // 4x per round: HALF the doubling's rounds (= half its
      // sequential sort/exchange barriers) at any scale, for a pivot
      // union of 4n instead of 2n rows (same total union bytes over
      // the build). Order correctness is the standard k-ary doubling
      // invariant: tuple order = window order, equal tuples = equal
      // windows, and the -1 pad for copies off the corpus end is
      // never order-deciding (equal tuple prefixes are sentinel-free,
      // so the next slot is always a real rank — the pair-doubling
      // argument verbatim). The retained per-round table keeps
      // (r1, r2, r3) — free columns of the rank's own pinned layout —
      // because they are exactly the LCP walk's probe tuple: ranks of
      // span s at offsets 0, s, 2s, i.e. up to THREE base-4 lcp tests
      // per probe join instead of the pair walk's one (the walk below
      // visits half the levels with the same two joins per level).
      // The EARLY EXIT (round-12 verdict #8): distinct-key count
      // hitting n means every suffix is fully ordered — later rounds
      // are identity re-ranks and their walk levels can never test
      // equal; the count is free (it rides the pin's stats).
      var span = 1L
      var total = false
      while (span < target && !total) { labeled(s, s"suffix: round span=$span") {
        val paired = cur.select($"gid", $"rk", lit(0).as("__sd"))
          .unionByName(
            cur.select(($"gid" - span).as("gid"), $"rk", lit(1).as("__sd")))
          .unionByName(
            cur.select(($"gid" - 2L * span).as("gid"), $"rk", lit(2).as("__sd")))
          .unionByName(
            cur.select(($"gid" - 3L * span).as("gid"), $"rk", lit(3).as("__sd")))
          .groupBy($"gid")
          .agg(max(when($"__sd" === 0, $"rk")).as("r1"),
            coalesce(max(when($"__sd" === 1, $"rk")), lit(-1L)).as("r2"),
            coalesce(max(when($"__sd" === 2, $"rk")), lit(-1L)).as("r3"),
            coalesce(max(when($"__sd" === 3, $"rk")), lit(-1L)).as("r4"))
          .filter($"r1".isNotNull)
        var nKeys = 0L // filled by the rank pin's own stats
        val ranked = Relational.globalDenseRank(s, paired,
          Seq("r1", "r2", "r3", "r4"), sized(nTotal), onDistinct = nKeys = _)
        cur = ranked.select($"gid", $"rk")
        levels = levels :+ ((span, ranked.select($"gid", $"r1", $"r2", $"r3")))
        if (nKeys == nTotal) total = true
      }
        span *= 4
      }
    }
    // adjacent suffix pairs: dense distinct final ranks ARE SA
    // positions. Same tag-union pivot as the doubling pair above —
    // ranks are a permutation, so the rk self-join is one group-pivot
    // (inner semantics: both sides must be present).
    val adj = cur.select($"rk".as("sap"), $"gid", lit(0).as("__sd"))
      .unionByName(
        cur.select(($"rk" - 1L).as("sap"), $"gid", lit(1).as("__sd")))
      .groupBy($"sap")
      .agg(max(when($"__sd" === 0, $"gid")).as("ga"),
        max(when($"__sd" === 1, $"gid")).as("gb"))
      .filter($"ga".isNotNull && $"gb".isNotNull)
      .select($"sap", $"ga", $"gb", lit(0L).as("lcp"))
    // descending LCP walk. KEPT as two narrow left joins per level
    // after an r16 A/B: folding both probes into one keyed window +
    // pivot halves the exchange count but shuffles 3n wide rows per
    // level through a window sort — measured 24 -> 75 MiB shuffled and
    // 8.6 -> 20.4 s task time on the panel; the joins move fewer bytes
    // (guide §2.3 beats §2.4 when the "shared" exchange is wider than
    // the two it replaces).
    var lcpF = adj
    if (dense) {
      // pair levels: walk every level below the final (the final is
      // all-distinct: it can never contribute), one span test per join
      val walk = levels.init.reverse
      for (((spanJ, tbl), j) <- walk.zipWithIndex) {
        val ra = tbl.select($"gid".as("_ga"), $"rk".as("ra"))
        val rb = tbl.select($"gid".as("_gb"), $"rk".as("rb"))
        lcpF = lcpF
          .join(ra, lcpF("ga") + lcpF("lcp") === ra("_ga"), "left")
          .join(rb, lcpF("gb") + lcpF("lcp") === rb("_gb"), "left")
          .select($"sap", $"ga", $"gb",
            ($"lcp" + when($"ra".isNotNull && $"ra" === $"rb", lit(spanJ))
              .otherwise(lit(0L))).as("lcp"))
        // bound the walk's plan growth, but pay the materialization job
        // only every FOURTH level (r16 A/B: stride 3 -> 4 saved one cut
        // job on the panel; stride 5 measured no further gain)
        if (j % 4 == 3 || j == walk.length - 1)
          lcpF = labeled(s, s"suffix: walk cut L$j")(lcpF.transform(Shim.cutCheckpoint))
      }
    } else {
      // quad levels (r17): each retained table carries (r1, r2, r3) =
      // the span-s ranks at offsets 0, s, 2s off its own pinned
      // layout, so ONE probe join per side resolves up to THREE
      // greedy base-4 tests of span s: advance s while the next
      // span-s windows of both suffixes agree (digits 0-3 at weight
      // s, visit weights ratio 4 — exact base-4 representation of any
      // lcp, and max lcp < 4^rounds is covered by construction, early
      // exit included). Guards: ra1 is never the -1 pad (the r1
      // filter), a left-join miss is null -> no advance, and a -1 pad
      // can only appear at a slot where the tuples already differ
      // (equal prefixes are sentinel-free, so the next slot is a real
      // rank) — the `>= 0` checks make that invariant local. Half the
      // pair walk's levels at the same two joins per level, so the
      // cut stride drops to TWO levels (= 4 joins of lineage, the
      // r16-calibrated depth).
      for (((sp, tbl), j) <- levels.reverse.zipWithIndex) {
        val ra = tbl.select($"gid".as("_ga"),
          $"r1".as("ra1"), $"r2".as("ra2"), $"r3".as("ra3"))
        val rb = tbl.select($"gid".as("_gb"),
          $"r1".as("rb1"), $"r2".as("rb2"), $"r3".as("rb3"))
        lcpF = lcpF
          .join(ra, lcpF("ga") + lcpF("lcp") === ra("_ga"), "left")
          .join(rb, lcpF("gb") + lcpF("lcp") === rb("_gb"), "left")
          .select($"sap", $"ga", $"gb",
            ($"lcp" + when($"ra1".isNotNull && $"ra1" === $"rb1",
              lit(sp) + when($"ra2" >= 0 && $"ra2" === $"rb2",
                lit(sp) + when($"ra3" >= 0 && $"ra3" === $"rb3", lit(sp))
                  .otherwise(lit(0L)))
                .otherwise(lit(0L)))
              .otherwise(lit(0L))).as("lcp"))
        if (j % 2 == 1 || j == levels.length - 1)
          lcpF = labeled(s, s"suffix: walk cut L$j")(lcpF.transform(Shim.cutCheckpoint))
      }
    }
    val perRank = lcpF.select($"ga".as("gid"), $"lcp")
      .unionByName(lcpF.select($"gb".as("gid"), $"lcp"))
      .groupBy($"gid").agg(max($"lcp").as("maxrep"))
    // cut only for the APPEND base (dense): there perPos is read by
    // the base-position update joins; on the batch path its ONLY
    // consumer is the final per-doc aggregate, so the eager cut was a
    // whole materialization of n rows the one consumer could fold into
    // its own action (r17; guide §1.2).
    val perPos0 = real.select($"doc_id", $"gid")
      .join(perRank, Seq("gid"), "left")
      .withColumn("maxrep", coalesce($"maxrep", lit(0L)))
    val perPos =
      if (dense) labeled(s, "suffix: perPos")(perPos0.transform(Shim.cutCheckpoint))
      else perPos0
    Some(SuffixIndex(real, levels, cur, lcpF, perPos,
      termRanks, vocab, nDocs, nTotal, maxLen, gidBase))
  }

  /** APPENDED-SHARD suffix-repeat update: [[suffixDups]] semantics over
    * (base ∪ shard) while RANKING only the shard's suffixes — the
    * `sim_ivfpq_append` frozen-index discipline applied to text. A full
    * rebuild re-sorts all n_base + n_shard windows every doubling
    * round; here the base's level tables are a FROZEN INDEX that is
    * read (equality joins, one merge against the vocabulary) but never
    * re-ranked, sound because per-doc sentinels make every base suffix
    * order decision independent of what is appended after the corpus
    * (any comparison is decided at or before the earlier sentinel, so
    * the frozen order IS the combined order restricted to base
    * suffixes).
    *
    * Mechanism, per doubling level (span 2^k, halves A·B):
    *  1. A shard window's rank is the PAIR (maj, mn): maj = the dense
    *     index of the greatest frozen level-k key ≤ it (-1 below all),
    *     mn = 0 iff it EQUALS that key, else 1 + the rank of its key
    *     among the shard's novel keys (globally key-ordered, hence
    *     order-consistent inside every gap). Equal windows get equal
    *     pairs; the pair order is the true window order — the doubling
    *     invariant survives with old ranks byte-frozen.
    *  2. maj refines by CASE, all equality joins against two frozen
    *     per-level directories (`dk`: level index ↔ half-index pair;
    *     `cumFirst`: last level index per first-half index):
    *     A novel (mnA ≥ 1) → no old key shares A: maj = cumFirst(majA).
    *     A = old key, B arbitrary → floor inside old group majA: a
    *     keyed prefix count over ONLY the touched groups' directory
    *     slice (IVF-style: probed cells, not the whole index).
    *     Exact (mnA = mnB = 0, pair ∈ dk) → (that index, 0).
    *  3. The final level's maj are insertion floors among the base's
    *     FINAL ranks = suffix-array positions; [[Relational.globalRank]]
    *     over (maj, mn) — shard rows only — yields the merged order.
    *  4. LCPs by the usual descending-level walks: shard-shard pairs
    *     test (maj, mn) equality; shard-base pairs test mn = 0 ∧ maj =
    *     frozen rank. Per gap only (first, SA[maj]) and (last,
    *     SA[maj+1]) cross pairs are needed.
    *  5. Base positions update WITHOUT any scan: for base suffix q at
    *     SA position f, max LCP against the shard = LCP with a merged
    *     NEIGHBOR (SA-LCP lemma), and a non-adjacent old neighbor's LCP
    *     is ≤ the frozen maxrep — so maxrep' = greatest(frozen, the two
    *     gap-boundary cross LCPs at f), two equality joins on f.
    *
    * Ranked rows in the append phase (everything passed to globalRank,
    * observable via `onRank`) are O(shard windows × levels) and
    * INDEPENDENT of the base size — the spec gate builds the same
    * shard over a 1× and a 4× base and counts identical totals. The
    * base is touched only by: the level loop's directory reads, one
    * vocabulary merge (metadata-scale), and the O(1)-per-gap SA/seed
    * joins. Oracle: mechanism-independent brute force over the UNION —
    * hash-equality against a full rebuild is the contract.
    *
    * @param onRank spec hook — called with the row count of every
    *               DataFrame the append phase ranks (null = no-op,
    *               zero overhead). */
  private[operators] def suffixDupsAppend(
      baseDocs: DataFrame, shardDocs: DataFrame, minLen: Int,
      onRank: Long => Unit = null): DataFrame = {
    val s = baseDocs.sparkSession
    import s.implicits._
    def ranked(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column])
        : DataFrame = {
      if (onRank != null) onRank(df.count())
      Relational.globalRank(s, df, sortCols)
    }
    // shard tokenization first — the base build must double out to the
    // COMBINED maximum document length so floors refine to final ranks
    val toksN = shardDocs.withColumn("tokens", tokens)
      .select($"doc_id", $"tokens").filter(size($"tokens") >= 1)
      .transform(Shim.cutCheckpoint)
    val mmN = toksN
      .agg(coalesce(max(size($"tokens") + 1).cast(LongType), lit(0L))).head
    val maxLenN = mmN.getLong(0)
    val baseIx =
      suffixIndex(baseDocs, dense = true, gidBase = 0L, minSpan = maxLenN)
    if (baseIx.isEmpty) // empty base: everything is touched — plain build
      return suffixDups(baseDocs.unionByName(shardDocs), minLen)
    val bx = baseIx.get
    if (maxLenN == 0L) // empty shard: the frozen answer is the answer
      return aggDups(bx.perPos, minLen)

    // ── shard layout: gids continue after the base block ──
    val lensN = toksN.select($"doc_id",
      (size($"tokens") + 1).cast(LongType).as("dlen"))
    val offsN = Relational.globalPrefixSum(s, lensN, Seq($"doc_id"), "dlen")
      .withColumn("off", $"psum" - $"dlen" + lit(bx.nTotal))
      .select($"doc_id", $"off")
    val docMetaN = ranked(offsN, Seq($"doc_id")).withColumnRenamed("rk", "docrk")
    val withOffN = toksN.join(docMetaN, Seq("doc_id")).transform(Shim.cutCheckpoint)
    val realN = withOffN.select($"doc_id", $"off", $"tokens")
      .transform(graft.functions.TextTokens.materialized)
      .select($"doc_id", $"off", posexplode($"tokens").as(Seq("p", "term")))
      .select($"doc_id", ($"off" + $"p").as("gid"), $"term")
      .transform(Shim.cutCheckpoint)
    val sentN = withOffN.select(($"off" + size($"tokens")).as("gid"), $"docrk")

    // ── level 0: place shard terms into the frozen alphabet order ──
    // (terms < sentinels; shard sentinels above base sentinels — any
    // consistent total order yields the same repeats)
    val m0 = bx.vocab + bx.nDocs
    val newTerms = realN.select($"term").distinct().transform(Shim.cutCheckpoint)
    val matched0 = newTerms.join(bx.termIdx, Seq("term"))
      .select($"term", $"trk".as("maj"), lit(0L).as("mn"))
    val novel0 = newTerms.join(bx.termIdx, Seq("term"), "left_anti")
      .transform(Shim.cutCheckpoint)
    // floor by one merge against the vocabulary — the single base
    // structure small enough (metadata-scale) to sort against whole
    val fl0 = Relational.globalPrefixSum(s,
        bx.termIdx.select($"term", lit(1L).as("iso"))
          .unionByName(novel0.select($"term", lit(0L).as("iso"))),
        Seq($"term"), "iso")
      .filter($"iso" === 0L)
      .select($"term", ($"psum" - 1L).as("maj"))
    val novRk0 = ranked(novel0, Seq($"term")).withColumnRenamed("rk", "nrk")
    val termMap = matched0.unionByName(
        fl0.join(novRk0, Seq("term"))
          .select($"term", $"maj", ($"nrk" + 1L).as("mn")))
      .transform(Shim.cutCheckpoint)
    var nl = realN.join(termMap, Seq("term")).select($"gid", $"maj", $"mn")
      .unionByName(sentN.select($"gid",
        lit(m0 - 1L).as("maj"), ($"docrk" + 1L).as("mn")))
      .transform(Shim.cutCheckpoint)
    var nlevels = Vector[(Long, DataFrame)]((1L, nl))

    // ── prefix doubling over the shard only ──
    var span = 1L
    var li = 0
    val target = math.max(bx.maxLen, maxLenN)
    while (span < target) {
      val h = span
      val prevOld = bx.levels(li)._2
      val curOld = bx.levels(li + 1)._2
      // frozen directory: dense level index ↔ (first, second) half
      // indices; cumFirst = last level index per first-half index
      val dk = curOld
        .join(prevOld.withColumnRenamed("rk", "ra"), Seq("gid"))
        .join(prevOld.select(($"gid" - h).as("gid"), $"rk".as("rb")),
          Seq("gid"), "left")
        .select($"rk", $"ra", coalesce($"rb", lit(-1L)).as("rb"))
        .distinct()
        .transform(Shim.cutCheckpoint)
      val cumFirst = dk.groupBy($"ra").agg(max($"rk").as("hi"))
        .transform(Shim.cutCheckpoint)
      val pairs = nl.select($"gid", $"maj".as("amaj"), $"mn".as("amn"))
        .join(nl.select(($"gid" - h).as("gid"),
          $"maj".as("bmaj"), $"mn".as("bmn")), Seq("gid"), "left")
        .select($"gid", $"amaj", $"amn",
          coalesce($"bmaj", lit(-1L)).as("bmaj"),
          coalesce($"bmn", lit(0L)).as("bmn"))
        .transform(Shim.cutCheckpoint)
      val dp = pairs.select($"amaj", $"amn", $"bmaj", $"bmn").distinct()
        .transform(Shim.cutCheckpoint)
      // exact: both halves equal old keys and the pair is a key
      val exact = dp.filter($"amn" === 0L && $"bmn" === 0L)
        .join(dk, dp("amaj") === dk("ra") && dp("bmaj") === dk("rb"))
        .select($"amaj", $"amn", $"bmaj", $"bmn",
          $"rk".as("maj"), lit(0L).as("mn"))
        .transform(Shim.cutCheckpoint)
      // novel first half: no old key shares A — floor is the last old
      // key whose first half <= A, i.e. cumFirst(majA) (-1 below all)
      val novA = dp.filter($"amn" >= 1L)
        .join(cumFirst.withColumnRenamed("ra", "amaj"), Seq("amaj"), "left")
        .select($"amaj", $"amn", $"bmaj", $"bmn",
          coalesce($"hi", lit(-1L)).as("fl"))
      // A equals old key majA (and not exact): floor INSIDE group majA
      // via a prefix count over only the touched groups' slice
      val aM = dp.filter($"amn" === 0L)
        .join(exact, Seq("amaj", "amn", "bmaj", "bmn"), "left_anti")
      val slice = dk.join(
          aM.select($"amaj".as("ra")).distinct(), Seq("ra"), "left_semi")
      val scanIn = slice
        .select($"ra".as("g"), $"rb".as("kk"), lit(0L).as("tag"),
          lit(1L).as("iso"))
        .unionByName(aM.select($"amaj".as("g"), $"bmaj".as("kk"),
          lit(1L).as("tag"), lit(0L).as("iso")).distinct())
        .withColumn("gs", $"g".cast(StringType))
      // old (rb, 0) <= new B=(bmaj, bmn) iff rb <= bmaj, both mn cases
      val scanned = Relational.keyedPrefixSum(s, scanIn, "gs",
        Seq($"kk", $"tag"), "iso")
      val grpFloor = scanned.filter($"tag" === 1L)
        .select($"g".as("amaj"), $"kk".as("bmaj"), $"psum".as("c"))
        .join(cumFirst.select(($"ra" + 1L).as("amaj"), $"hi".as("lom1")),
          Seq("amaj"), "left")
        .select($"amaj", $"bmaj",
          (coalesce($"lom1", lit(-1L)) + $"c").as("fl")) // lo-1 + count
      val novAll = novA.unionByName(
          aM.join(grpFloor, Seq("amaj", "bmaj"))
            .select($"amaj", $"amn", $"bmaj", $"bmn", $"fl"))
        .transform(Shim.cutCheckpoint)
      val novRk = ranked(novAll, Seq($"amaj", $"amn", $"bmaj", $"bmn"))
      val classified = exact.unionByName(
          novRk.select($"amaj", $"amn", $"bmaj", $"bmn",
            $"fl".as("maj"), ($"rk" + 1L).as("mn")))
        .transform(Shim.cutCheckpoint)
      nl = pairs.join(classified, Seq("amaj", "amn", "bmaj", "bmn"))
        .select($"gid", $"maj", $"mn").transform(Shim.cutCheckpoint)
      span *= 2
      li += 1
      nlevels = nlevels :+ ((span, nl))
    }

    // ── merge: insertion gaps, cross pairs, LCP walks ──
    val nr = ranked(nl, Seq($"maj", $"mn")).transform(Shim.cutCheckpoint)
    val gapEnds = nr.groupBy($"maj")
      .agg(min_by($"gid", $"rk").as("fgid"), max_by($"gid", $"rk").as("lgid"))
      .transform(Shim.cutCheckpoint)
    val sa = bx.finalRanks // (gid, rk): dense final ranks = SA positions
    val lower = gapEnds
      .join(sa.select($"rk".as("maj"), $"gid".as("og")), Seq("maj"))
      .select($"maj", $"fgid".as("ng"), $"og") // drops maj = -1 itself
    val upper = gapEnds
      .join(sa.select(($"rk" - 1L).as("maj"), $"gid".as("og")), Seq("maj"))
      .select($"maj", $"lgid".as("ng"), $"og") // drops maj = nTotal-1
    def crossWalk(pairsIn: DataFrame): DataFrame = {
      var cw = pairsIn.withColumn("lcp", lit(0L))
      val wlk = nlevels.zip(bx.levels).init.reverse
      for ((((spanJ, ntbl), (_, otbl)), j) <- wlk.zipWithIndex) {
        cw = cw
          .join(ntbl.select($"gid".as("_ng"), $"maj".as("nmaj"),
            $"mn".as("nmn")), cw("ng") + cw("lcp") === col("_ng"), "left")
          .join(otbl.select($"gid".as("_og"), $"rk".as("ork")),
            cw("og") + cw("lcp") === col("_og"), "left")
          .select($"maj", $"ng", $"og",
            ($"lcp" + when($"nmn" === 0L && $"nmaj" === $"ork", lit(spanJ))
              .otherwise(lit(0L))).as("lcp"))
        if (j % 2 == 1 || j == wlk.length - 1) cw = cw.transform(Shim.cutCheckpoint)
      }
      cw
    }
    val lw = crossWalk(lower).transform(Shim.cutCheckpoint)
    val uw = crossWalk(upper).transform(Shim.cutCheckpoint)
    // shard-shard merged adjacency: consecutive merged ranks, same gap
    var nnW = nr.select($"rk".as("xrk"), $"gid".as("ga"), $"maj".as("majA"))
      .join(nr.select(($"rk" - 1L).as("xrk"), $"gid".as("gb"),
        $"maj".as("majB")), Seq("xrk"))
      .filter($"majA" === $"majB")
      .select($"ga", $"gb", lit(0L).as("lcp"))
    val wlkN = nlevels.init.reverse
    for (((spanJ, tbl), j) <- wlkN.zipWithIndex) {
      nnW = nnW
        .join(tbl.select($"gid".as("_ga"), $"maj".as("ma"), $"mn".as("mna")),
          nnW("ga") + nnW("lcp") === col("_ga"), "left")
        .join(tbl.select($"gid".as("_gb"), $"maj".as("mb"), $"mn".as("mnb")),
          nnW("gb") + nnW("lcp") === col("_gb"), "left")
        .select($"ga", $"gb",
          ($"lcp" + when($"ma".isNotNull && $"ma" === $"mb" &&
            $"mna" === $"mnb", lit(spanJ)).otherwise(lit(0L))).as("lcp"))
      if (j % 2 == 1 || j == wlkN.length - 1) nnW = nnW.transform(Shim.cutCheckpoint)
    }

    // ── per-position repeats: shard rows from their merged neighbors,
    //    base rows from greatest(frozen, gap-boundary seeds) — the
    //    SA-LCP lemma makes any farther pair's LCP <= one of these ──
    val contrib = nnW.select($"ga".as("gid"), $"lcp")
      .unionByName(nnW.select($"gb".as("gid"), $"lcp"))
      .unionByName(lw.select($"ng".as("gid"), $"lcp"))
      .unionByName(uw.select($"ng".as("gid"), $"lcp"))
      .groupBy($"gid").agg(max($"lcp").as("maxrep"))
    val newPerPos = realN.select($"doc_id", $"gid")
      .join(contrib, Seq("gid"), "left")
      .select($"doc_id", $"gid", coalesce($"maxrep", lit(0L)).as("maxrep"))
    val dSeed = uw.select(($"maj" + 1L).as("sap"), $"lcp".as("dv"))
    val uSeed = lw.select($"maj".as("sap"), $"lcp".as("uv"))
    val oldUpd = bx.perPos
      .join(sa, Seq("gid")).withColumnRenamed("rk", "sap")
      .join(dSeed, Seq("sap"), "left")
      .join(uSeed, Seq("sap"), "left")
      .select($"doc_id", $"gid",
        greatest($"maxrep", coalesce($"dv", lit(0L)),
          coalesce($"uv", lit(0L))).as("maxrep"))
    aggDups(oldUpd.unionByName(newPerPos), minLen)
  }

  /** Detection threshold for `llm_suffix_dups` — deliberately BELOW
    * the 8-token fingerprint window, because finding shorter repeats
    * than the window allows is precisely what the suffix array buys
    * (TextAnalysisSpec gates a planted 6-token duplicate that
    * [[dupSpans]] provably misses). */
  private val SuffixDupMinLen = 6

  /** Mechanism-independent brute-force oracle shared by
    * `llm_suffix_dups`, `llm_suffix_dups_append`, and the headline
    * panel face (the append's contract IS hash-equality with a full
    * rebuild, so the full-corpus queries answer to one oracle; the
    * panel face passes its doc filter as `docsRel`): every (position,
    * length) gram of the corpus counted for a second occurrence —
    * quadratic in doc length, fine at sf0.01; the scale path is the
    * Spark side. */
  private def suffixDupsOracle(docsRel: String): String = s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM $docsRel),
        tt AS (
          SELECT doc_id, tokens, len(tokens) AS n
          FROM toks WHERE len(tokens) >= 1),
        pos AS (
          SELECT doc_id, tokens, n,
                 unnest(generate_series(1, CAST(n AS INT))) AS p
          FROM tt),
        gs AS (
          SELECT doc_id, p,
                 unnest(generate_series(1, CAST(n - p + 1 AS INT))) AS l,
                 tokens
          FROM pos),
        g AS (
          SELECT doc_id, p, l,
                 array_to_string(tokens[p:p+l-1], ' ') AS gram
          FROM gs),
        cnt AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
        rep AS (
          SELECT g.doc_id, g.p,
                 MAX(CASE WHEN cnt.c >= 2 THEN g.l ELSE 0 END) AS maxrep
          FROM g JOIN cnt USING (gram)
          GROUP BY g.doc_id, g.p)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (maxrep >= $SuffixDupMinLen) AS BIGINT)
                 AS n_dup_pos,
               CAST(MAX(maxrep) AS BIGINT) AS max_rep_len
        FROM rep
        GROUP BY doc_id
        ORDER BY doc_id"""

  private val SuffixDupsOracleSql: String = suffixDupsOracle("documents")

  /** The headline panel for the suffix census — every 4th document.
    * The modulus is part of the query's CONTRACT (it parameterizes the
    * oracle identically), not a sample: the panel face is a complete
    * suffix-dup census of a fixed quarter of the corpus. */
  private val SuffixDupPanelMod = 4

  /** Occurrences of `kw` in `text` via length arithmetic (exact ints). */
  /** The batch-perceptron loop behind `llm_perceptron_learn`, exposed
    * for TextAnalysisSpec's planted-separable convergence gate.
    * `feats` must carry y ∈ {−1, 1} and x0..x4 longs; emits one row
    * per epoch with the exact post-update weights, update count,
    * training accuracy, and the pocket flag (best (n_correct, −epoch)
    * by exact comparison). */
  private[operators] def perceptronTrain(
      featsIn: org.apache.spark.sql.DataFrame, epochs: Int)
      : org.apache.spark.sql.DataFrame = {
    val s = featsIn.sparkSession
    import s.implicits._
    val feats = featsIn.pin() // 2 aggregates per epoch
    var w = Array.fill(5)(0L)
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    for (r <- 1 to epochs) {
      def margin(ws: Array[Long]) =
        $"y" * (lit(ws(0)) * $"x0" + lit(ws(1)) * $"x1" +
          lit(ws(2)) * $"x2" + lit(ws(3)) * $"x3" + lit(ws(4)) * $"x4")
      val mis = margin(w) <= 0L
      val upd = feats.agg(
        sum(when(mis, $"y" * $"x0").otherwise(0L)),
        sum(when(mis, $"y" * $"x1").otherwise(0L)),
        sum(when(mis, $"y" * $"x2").otherwise(0L)),
        sum(when(mis, $"y" * $"x3").otherwise(0L)),
        sum(when(mis, $"y" * $"x4").otherwise(0L)),
        sum(when(mis, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
      // zero input rows: every SUM is null — an empty corpus trains
      // nothing, each epoch stays at the zero weights (the EmptyInput
      // discipline: defined degenerate rows, never an NPE)
      def lng(i: Int): Long = if (upd.isNullAt(i)) 0L else upd.getLong(i)
      w = Array.tabulate(5)(i => w(i) + lng(i))
      val ncRow = feats.agg(
        sum(when(margin(w) > 0L, 1L).otherwise(0L))).collect()(0)
      val nCorrect = if (ncRow.isNullAt(0)) 0L else ncRow.getLong(0)
      out += ((r.toLong, w(0), w(1), w(2), w(3), w(4),
        lng(5), nCorrect, upd.getLong(6)))
    }
    val pocket = out.minBy { case (r, _, _, _, _, _, _, nc, _) =>
      (-nc, r) }._1
    out.toSeq
      .toDF("epoch", "w0", "w1", "w2", "w3", "w4", "n_upd",
        "n_correct", "n")
      .withColumn("acc",
        when($"n" === 0L, 0.0).otherwise(
          $"n_correct".cast(DoubleType) / $"n".cast(DoubleType)))
      .withColumn("is_pocket", $"epoch" === pocket)
      .orderBy($"epoch")
  }

  private def kwCount(kw: String): String =
    s"(length(text) - length(replace(text, ' $kw '))) div ${kw.length + 2}"
  private def kwCountSql(kw: String): String =
    s"(length(text) - length(replace(text, ' $kw ', ''))) // ${kw.length + 2}"

  override val queries: Map[String, QueryDef] = Map(

    // ── token + char counting ──
    "llm_token_count" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            size(split(trim($"text"), "[ \\t\\n\\r\\f]+")).cast(LongType).as("n_tokens"),
            length($"text").cast(LongType).as("n_chars_measured"),
            $"n_chars")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '[ \t\n\r\f]+')) AS BIGINT) AS n_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_measured,
          n_chars
        FROM documents
        ORDER BY doc_id"""),
      headline = false),

    // ── heuristic quality score: alpha ratio, punctuation, length ──
    "llm_quality_score" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val n = length($"text").cast(DoubleType)
        val alphaCnt = (length($"text") -
          length(regexp_replace($"text", "[a-zA-Z]", ""))).cast(DoubleType)
        val punctCnt = (length($"text") -
          length(regexp_replace($"text", "[.,!?;:]", ""))).cast(DoubleType)
        val spaceCnt = (length($"text") -
          length(replace($"text", lit(" ")))).cast(DoubleType)
        Tables.documents(s, d)
          .select($"doc_id",
            n.as("n_chars_d"),
            (alphaCnt / nullif(n, lit(0.0))).as("alpha_ratio"),
            (punctCnt / nullif(n, lit(0.0))).as("punct_ratio"),
            (spaceCnt / nullif(n, lit(0.0))).as("space_ratio"),
            (lit(0.5) * (alphaCnt / nullif(n, lit(0.0))) +
             lit(0.3) * (lit(1.0) - punctCnt / nullif(n, lit(0.0))) +
             lit(0.2) * least(lit(1.0), n / lit(500.0))).as("quality_score"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH q AS (
          SELECT doc_id,
            CAST(length(text) AS DOUBLE) AS n,
            CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_cnt,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct_cnt,
            CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS space_cnt
          FROM documents)
        SELECT doc_id,
          n AS n_chars_d,
          alpha_cnt / nullif(n, 0.0) AS alpha_ratio,
          punct_cnt / nullif(n, 0.0) AS punct_ratio,
          space_cnt / nullif(n, 0.0) AS space_ratio,
          0.5 * (alpha_cnt / nullif(n, 0.0)) +
          0.3 * (1.0 - punct_cnt / nullif(n, 0.0)) +
          0.2 * least(1.0, n / 500.0) AS quality_score
        FROM q
        ORDER BY doc_id""")),

    // ── stopword-marker language ID (n-gram heuristic) ──
    "llm_lang_id" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("cnt_en", expr(kwCount("the")))
          .withColumn("cnt_de", expr(kwCount("der")))
          .withColumn("cnt_fr", expr(kwCount("le")))
          .withColumn("cnt_es", expr(kwCount("el")))
          .withColumn("lang_pred",
            when($"cnt_en" >= $"cnt_de" && $"cnt_en" >= $"cnt_fr" && $"cnt_en" >= $"cnt_es", "en")
              .when($"cnt_de" >= $"cnt_fr" && $"cnt_de" >= $"cnt_es", "de")
              .when($"cnt_fr" >= $"cnt_es", "fr")
              .otherwise("es"))
          .select($"doc_id", $"cnt_en", $"cnt_de", $"cnt_fr", $"cnt_es",
            $"lang_pred", $"lang", ($"lang_pred" === $"lang").as("is_match"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH c AS (
          SELECT doc_id, lang,
            ${kwCountSql("the")} AS cnt_en,
            ${kwCountSql("der")} AS cnt_de,
            ${kwCountSql("le")} AS cnt_fr,
            ${kwCountSql("el")} AS cnt_es
          FROM documents)
        SELECT doc_id, cnt_en, cnt_de, cnt_fr, cnt_es,
          CASE
            WHEN cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
            WHEN cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
            WHEN cnt_fr >= cnt_es THEN 'fr'
            ELSE 'es' END AS lang_pred,
          lang,
          (CASE
            WHEN cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
            WHEN cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
            WHEN cnt_fr >= cnt_es THEN 'fr'
            ELSE 'es' END) = lang AS is_match
        FROM c
        ORDER BY doc_id""")),

    // ── batch perceptron training with pocket selection ──
    // The TRAINED-classifier face next to the fixed-rule scorers
    // (hash classifier, Gopher rules, DSIR): an actual learning loop
    // whose every state is exact — the batch perceptron (Rosenblatt
    // 1958) over integer features never needs a sigmoid, so weights,
    // margins, and gradient sums are BIGINTs both engines reproduce
    // bit for bit (the no-transcendentals discipline applied to model
    // TRAINING). Each epoch is ONE map-side-combined aggregate of the
    // misclassified rows' y·x sums plus one evaluation aggregate;
    // only the weight scalars reach the driver (the densestPeel
    // scalar discipline). The full-batch rule settles when a
    // zero-update fixpoint exists — TextAnalysisSpec plants one and
    // proves convergence (updates hit zero, accuracy 1.0) — while on
    // the fixture's non-separable marker features it honestly
    // CYCLES, which is why the emitted `is_pocket` column
    // (Gallant 1990: keep the best-scoring epoch, exact
    // (n_correct, −epoch) argmax) is the model a pipeline ships. The
    // oracle replays the full trajectory with chained scalar
    // subqueries. ORACLE SCOPE: valid on non-empty fixtures only —
    // on an empty corpus the Spark side still emits 3 zero-weight
    // epoch rows (EmptyInputSpec), while the oracle's u1..u3 GROUP BY
    // chain collapses to zero rows; the driver's check always runs at
    // sf0.01 so the constraint is never exercised there.
    "llm_perceptron_learn" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val feats = Tables.documents(s, d)
          .select(
            when($"lang" === "en", 1L).otherwise(-1L).as("y"),
            lit(1L).as("x0"),
            expr(kwCount("the")).cast(LongType).as("x1"),
            expr(kwCount("der")).cast(LongType).as("x2"),
            expr(kwCount("le")).cast(LongType).as("x3"),
            expr(kwCount("el")).cast(LongType).as("x4"))
        perceptronTrain(feats, epochs = 3)
      },
      oracle = Some {
        def dot(u: String) =
          s"($u.w0 * x0 + $u.w1 * x1 + $u.w2 * x2 + $u.w3 * x3 + $u.w4 * x4)"
        def upd(prev: String, name: String) = s"""
        $name AS (
          SELECT $prev.w0 + CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN y * x0 ELSE 0 END) AS BIGINT) AS w0,
                 $prev.w1 + CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
                 $prev.w2 + CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
                 $prev.w3 + CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN y * x3 ELSE 0 END) AS BIGINT) AS w3,
                 $prev.w4 + CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN y * x4 ELSE 0 END) AS BIGINT) AS w4,
                 CAST(SUM(CASE WHEN y * ${dot(prev)} <= 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
          FROM f CROSS JOIN $prev
          GROUP BY $prev.w0, $prev.w1, $prev.w2, $prev.w3, $prev.w4)"""
        def ev(u: String, name: String) = s"""
        $name AS (
          SELECT CAST(SUM(CASE WHEN y * ${dot(u)} > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM f CROSS JOIN $u)"""
        s"""
        WITH f AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                 1 AS x0,
                 ${kwCountSql("the")} AS x1, ${kwCountSql("der")} AS x2,
                 ${kwCountSql("le")} AS x3, ${kwCountSql("el")} AS x4
          FROM documents),
        w0 AS (SELECT 0 AS w0, 0 AS w1, 0 AS w2, 0 AS w3, 0 AS w4),
        ${upd("w0", "u1").drop(1)},${ev("u1", "e1")},${upd("u1", "u2")},${ev("u2", "e2")},${upd("u2", "u3")},${ev("u3", "e3")}
        ,all_rows AS (
        ${Seq(1, 2, 3).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS epoch,
               CAST(u$r.w0 AS BIGINT) AS w0, CAST(u$r.w1 AS BIGINT) AS w1,
               CAST(u$r.w2 AS BIGINT) AS w2, CAST(u$r.w3 AS BIGINT) AS w3,
               CAST(u$r.w4 AS BIGINT) AS w4,
               u$r.n_upd, e$r.n_correct, e$r.n,
               CAST(e$r.n_correct AS DOUBLE) / CAST(e$r.n AS DOUBLE) AS acc
        FROM u$r CROSS JOIN e$r"""
        }.mkString("\n        UNION ALL\n        ")})
        SELECT a.*,
               NOT EXISTS (
                 SELECT 1 FROM all_rows b
                 WHERE b.n_correct > a.n_correct
                    OR (b.n_correct = a.n_correct AND b.epoch < a.epoch))
                 AS is_pocket
        FROM all_rows a
        ORDER BY epoch"""
      },
      headline = false),

    // ── expected calibration error (reliability diagram) ──
    // The classifier-audit face the scoring family lacked: a quality
    // or language classifier is only USEFUL at 100 TB if its
    // confidence means what it says, and ECE (Naeini et al. AAAI'15;
    // Guo et al. ICML'17) is the standard readout — bin predictions
    // by confidence, compare each bin's mean confidence to its
    // empirical accuracy. The classifier under audit is the marker
    // language-ID run as a PROBABILITY: p(en) = add-1-smoothed share
    // of English markers among all four languages' markers, kept in
    // exact ppm integers, so every bin row is exact BIGINTs and the
    // per-bin ECE numerator |1e6·n_pos − Σp_ppm| rides the hash as
    // an integer (total ECE = Σ ece_num / (1e6·N)). One scan, one
    // map-side-combined groupBy on the 10 bins; conf/acc are single
    // exact-ratio divisions. At sf0.01 the diagram shows real
    // miscalibration (bin 7: conf .71 vs acc .17) — which is the
    // point: the audit MEASURES it.
    "llm_calibration_ece" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"lang",
            expr(kwCount("the")).as("ce"), expr(kwCount("der")).as("cd"),
            expr(kwCount("le")).as("cf"), expr(kwCount("el")).as("cs"))
          .select($"lang",
            expr("cast(1000000 as bigint) * (ce + 1) " +
              "div (ce + cd + cf + cs + 4)").as("ppm"))
          .select($"lang", $"ppm",
            least(lit(9L), expr("ppm div 100000")).as("bin"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n_docs"),
            sum($"ppm").as("sum_p_ppm"),
            sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_pos"))
          .select($"bin", $"n_docs", $"sum_p_ppm", $"n_pos",
            ($"sum_p_ppm".cast(DoubleType) /
              ($"n_docs" * lit(1000000L)).cast(DoubleType)).as("conf"),
            ($"n_pos".cast(DoubleType) / $"n_docs".cast(DoubleType))
              .as("acc"),
            abs(lit(1000000L) * $"n_pos" - $"sum_p_ppm").as("ece_num"))
          .orderBy($"bin")
      },
      oracle = Some(s"""
        WITH c AS (
          SELECT lang,
            ${kwCountSql("the")} AS ce, ${kwCountSql("der")} AS cd,
            ${kwCountSql("le")} AS cf, ${kwCountSql("el")} AS cs
          FROM documents),
        p AS (
          SELECT lang, 1000000 * (ce + 1) // (ce + cd + cf + cs + 4) AS ppm
          FROM c),
        b AS (
          SELECT least(9, ppm // 100000) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(ppm) AS BIGINT) AS sum_p_ppm,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pos
          FROM p GROUP BY 1)
        SELECT bin, n_docs, sum_p_ppm, n_pos,
               CAST(sum_p_ppm AS DOUBLE) /
                 CAST(n_docs * 1000000 AS DOUBLE) AS conf,
               CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS acc,
               CAST(abs(1000000 * n_pos - sum_p_ppm) AS BIGINT) AS ece_num
        FROM b ORDER BY bin"""),
      headline = false),

    // ── Cohen's kappa (inter-rater agreement beyond chance) ──
    // The label-quality gate of annotation pipelines: raw agreement
    // po flatters raters who both say "yes" to everything, kappa
    // (Cohen 1960) subtracts the chance agreement pe implied by each
    // rater's own marginals. Rater A: the strict-argmax marker rule
    // ("more English markers than the best alternative"); rater B:
    // the smoothed en-share probability at ≥ 0.5 — two DIFFERENT
    // readouts of the same evidence, so they disagree exactly where
    // the evidence is thin (168 docs at sf0.01). One scan folds the
    // full 2×2 contingency table map-side; po, pe, kappa are short
    // IEEE chains on the exact counts (pe's N² products stay in
    // BIGINT here; a 100 TB run lifts them to DECIMAL(38) — the plan
    // is unchanged).
    "llm_rater_kappa" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val tab = Tables.documents(s, d)
          .select(
            expr(kwCount("the")).as("ce"), expr(kwCount("der")).as("cd"),
            expr(kwCount("le")).as("cf"), expr(kwCount("el")).as("cs"))
          .select(
            ($"ce" > greatest($"cd", $"cf", $"cs")).as("a"),
            (expr("cast(1000000 as bigint) * (ce + 1) " +
              "div (ce + cd + cf + cs + 4)") >= 500000L).as("b"))
          .agg(
            sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"),
            sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
            sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
            sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"))
        tab.select($"n00", $"n01", $"n10", $"n11",
            (($"n00" + $"n11").cast(DoubleType) /
              ($"n00" + $"n01" + $"n10" + $"n11").cast(DoubleType))
              .as("po"),
            ((($"n10" + $"n11") * ($"n01" + $"n11") +
              ($"n00" + $"n01") * ($"n00" + $"n10")).cast(DoubleType) /
              (($"n00" + $"n01" + $"n10" + $"n11") *
                ($"n00" + $"n01" + $"n10" + $"n11")).cast(DoubleType))
              .as("pe"))
          .select($"n00", $"n01", $"n10", $"n11", $"po", $"pe",
            (($"po" - $"pe") / (lit(1.0) - $"pe")).as("kappa"))
      },
      oracle = Some(s"""
        WITH c AS (
          SELECT
            ${kwCountSql("the")} AS ce, ${kwCountSql("der")} AS cd,
            ${kwCountSql("le")} AS cf, ${kwCountSql("el")} AS cs
          FROM documents),
        r AS (
          SELECT (ce > greatest(cd, cf, cs)) AS a,
                 (1000000 * (ce + 1) // (ce + cd + cf + cs + 4)
                   >= 500000) AS b
          FROM c),
        t AS (
          SELECT
            CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
              AS BIGINT) AS n00,
            CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
              AS BIGINT) AS n11
          FROM r),
        s AS (
          SELECT n00, n01, n10, n11,
            CAST(n00 + n11 AS DOUBLE) /
              CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS po,
            CAST((n10 + n11) * (n01 + n11) +
                 (n00 + n01) * (n00 + n10) AS DOUBLE) /
              CAST((n00 + n01 + n10 + n11) *
                   (n00 + n01 + n10 + n11) AS DOUBLE) AS pe
          FROM t)
        SELECT n00, n01, n10, n11, po, pe,
               (po - pe) / (1.0 - pe) AS kappa
        FROM s"""),
      headline = false),

    // ── edit distance between adjacent same-language documents ──
    // (inputs are projected to [a-z0-9 ] first: Spark's levenshtein is
    // codepoint-based while DuckDB's is byte-based, so non-ASCII text
    // would silently diverge — the ASCII projection makes the parity
    // hold for any future fixture content, not just today's)
    "llm_edit_distance" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            substring(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), 1, 40)
              .as("head"))
          .pin() // both self-join sides read it
        docs.as("a").join(docs.as("b"),
            $"a.lang" === $"b.lang" && $"b.doc_id" === $"a.doc_id" + 1)
          .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
            levenshtein($"a.head", $"b.head").cast(LongType).as("edit_dist"))
          .orderBy($"doc1")
      },
      oracle = Some("""
        WITH h AS (
          SELECT doc_id, lang,
                 substring(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 40)
                   AS head
          FROM documents)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        FROM h a JOIN h b ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
        ORDER BY doc1""")),

    // ── order-insensitive token-set signature per document ──
    "llm_token_signature" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            concat_ws(" ",
              array_sort(array_distinct(filter(tokens, t => t =!= ""))))
              .as("token_signature"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id,
          array_to_string(
            list_sort(list_distinct(${graft.functions.TextTokens.tokensSql})),
            ' ') AS token_signature
        FROM documents
        ORDER BY doc_id""")),

    // ── corpus term frequency, top 50 ──
    "llm_top_terms" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(explode(tokens).as("term"))
          .filter($"term" =!= "")
          .groupBy($"term")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"term")
          .limit(50)
      },
      oracle = Some(s"""
        SELECT term, COUNT(*) AS n
        FROM (SELECT unnest(${graft.functions.TextTokens.tokensSql}) AS term
              FROM documents)
        GROUP BY term
        ORDER BY n DESC, term
        LIMIT 50"""),
      // DEMOTED round 9 as scheduled: its round-7 `weak` mark cleared
      // in the BENCH_r08 driver record (0.22 s), and its tf groupBy +
      // bounded global top-k shape is priced by llm_bm25_topk
      headline = false),

    // ── entropy coding: canonical Shannon prefix code roundtrip ──
    // The compression-AS-QUALITY-SIGNAL face (`llm_char_entropy`
    // measures the bound; this PAYS it with a real codec): a
    // corpus-level canonical prefix code ([[graft.functions.ShannonCode]])
    // whose lengths ⌈log₂(total/freq)⌉ are pure integer arithmetic —
    // the binary-string length of the ceil-divide, `bin()` in both
    // engines — unlike Huffman's heap-merge lengths no oracle could
    // replay; the cost is < 1 bit/symbol vs optimal. One corpus scan
    // builds the alphabet histogram (the collect is alphabet-sized,
    // ≤ 95 printable chars), every document then encodes AND decodes
    // through the real bit-packed codec in a typed map; the oracle
    // reprices each document's coded size from the histogram. A
    // document's saved_permille is its compressibility — the
    // repetitive-junk signal a curation pipeline thresholds on.
    "llm_shannon_code" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select($"doc_id",
            regexp_replace($"text", "[^\\x20-\\x7e]", "").as("t"))
          .filter(length($"t") > 0)
          .pin() // histogram job + the coding pass
        val freq = docs.select(explode(split($"t", "")).as("c"))
          .filter($"c" =!= "")
          .groupBy($"c").agg(count(lit(1)).as("f"))
          .collect() // alphabet-sized: <= 95 printable chars
        if (freq.isEmpty)
          // an empty corpus has no alphabet and nothing to code —
          // the defined degenerate result is the empty frame (the
          // EmptyInput discipline: never a crash at plan-build time)
          Seq.empty[(Long, Long, Long, Long, Boolean, Long)]
            .toDF("doc_id", "n_chars", "coded_bits", "raw_bits",
              "roundtrip_ok", "saved_permille")
        else {
          val total = freq.map(_.getLong(1)).sum
          val lengths = freq.map { r =>
            val f = r.getLong(1)
            val k = (total + f - 1) / f
            val L = if (k <= 1) 1
              else 64 - java.lang.Long.numberOfLeadingZeros(k - 1)
            r.getString(0).charAt(0) -> L
          }.toMap
          val book = graft.functions.ShannonCode.canonical(lengths)
          docs.as[(Long, String)].mapPartitions { it =>
            it.map { case (id, t) =>
              val (bytes, bits) =
                graft.functions.ShannonCode.encode(t, book)
              val ok =
                graft.functions.ShannonCode.decode(bytes, bits, book) == t
              (id, t.length.toLong, bits, 8L * t.length, ok)
            }
          }.toDF("doc_id", "n_chars", "coded_bits", "raw_bits",
            "roundtrip_ok")
            // 1000 − ratio, not ratio-of-difference: a rare-alphabet
            // doc can code LARGER than raw, and negative integer
            // division truncates in Spark but floors in DuckDB — all
            // operands here stay positive
            .withColumn("saved_permille",
              expr("1000 - 1000 * coded_bits div raw_bits"))
            .orderBy($"doc_id")
        }
      },
      oracle = Some("""
        WITH a AS (
          SELECT doc_id,
                 regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS t
          FROM documents),
        p AS (SELECT doc_id, t FROM a WHERE length(t) > 0),
        ch AS (
          SELECT doc_id, unnest(string_split(t, '')) AS c FROM p),
        freq AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS f FROM ch GROUP BY c),
        tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total FROM freq),
        len AS (
          SELECT c,
                 CASE WHEN (total + f - 1) // f <= 1 THEN 1
                      ELSE length(bin((total + f - 1) // f - 1))
                 END AS L
          FROM freq CROSS JOIN tot),
        dc AS (
          SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
          FROM ch GROUP BY 1, 2),
        coded AS (
          SELECT dc.doc_id,
                 CAST(SUM(dc.n * len.L) AS BIGINT) AS coded_bits
          FROM dc JOIN len USING (c) GROUP BY dc.doc_id)
        SELECT p.doc_id,
               CAST(length(p.t) AS BIGINT) AS n_chars,
               coded.coded_bits,
               CAST(8 * length(p.t) AS BIGINT) AS raw_bits,
               TRUE AS roundtrip_ok,
               CAST(1000 - 1000 * coded.coded_bits
                 // (8 * length(p.t)) AS BIGINT) AS saved_permille
        FROM p JOIN coded USING (doc_id)
        ORDER BY p.doc_id"""),
      headline = false),

    // ── exact-phrase query via positional posting intersection ──
    // The POSITIONAL half of the index story (`llm_postings_varint`
    // builds document postings; real engines answer "exact phrase"
    // by intersecting POSITION lists with a +1 offset): the query
    // takes the corpus's most frequent bigram (deterministic
    // tiebreak), then counts its adjacency occurrences and phrase
    // documents by one equality join of the two terms' positional
    // postings on (doc, pos+1) — never a substring rescan — and
    // reports them against the docs containing both terms anywhere
    // (the selectivity gap a co-occurrence filter would miss). All
    // equality joins on (doc, pos); the bigram argmax is a one-row
    // broadcast. The oracle replays positions via parallel unnest
    // with generate_subscripts.
    "llm_phrase_query" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val tok = Tables.documents(s, d)
          .select($"doc_id", posexplode(tokens).as(Seq("pos", "term")))
          .filter($"term" =!= "")
          .pin() // bigram argmax + three posting reads
        val top = tok.as("a").join(tok.as("b"),
            $"a.doc_id" === $"b.doc_id" && $"b.pos" === $"a.pos" + 1)
          .groupBy($"a.term".as("t1"), $"b.term".as("t2"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"n_pairs".desc, $"t1", $"t2")
          .limit(1)
        val p1 = tok.join(broadcast(top), $"term" === $"t1")
          .select($"doc_id", $"pos", $"t1", $"t2", $"n_pairs")
        val p2 = tok.join(broadcast(top.select($"t2".as("t2j"))),
            $"term" === $"t2j")
          .select($"doc_id".as("doc2"), $"pos".as("pos2"))
        val phrase = p1.join(p2,
            $"doc_id" === $"doc2" && $"pos2" === $"pos" + 1)
          .groupBy($"t1", $"t2", $"n_pairs")
          .agg(countDistinct($"doc_id").as("n_phrase_docs"))
        val both = tok.join(broadcast(top), $"term" === $"t1")
          .select($"doc_id").distinct()
          .join(tok.join(broadcast(top.select($"t2".as("t2j"))),
              $"term" === $"t2j")
            .select($"doc_id").distinct(), Seq("doc_id"))
          .agg(count(lit(1)).as("n_both_docs"))
        phrase.crossJoin(broadcast(both))
          .select($"t1", $"t2", $"n_pairs", $"n_phrase_docs",
            $"n_both_docs")
      },
      oracle = Some(s"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id,
                 unnest(${graft.functions.TextTokens.tokensSql}) AS term,
                 generate_subscripts(${graft.functions.TextTokens.tokensSql},
                   1) AS pos
          FROM documents),
        tk AS MATERIALIZED (SELECT * FROM tok WHERE term <> ''),
        top AS (
          SELECT a.term AS t1, b.term AS t2,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM tk a JOIN tk b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          GROUP BY 1, 2
          ORDER BY n_pairs DESC, t1, t2
          LIMIT 1),
        ph AS (
          SELECT CAST(COUNT(DISTINCT p1.doc_id) AS BIGINT)
                   AS n_phrase_docs
          FROM tk p1 JOIN top ON p1.term = top.t1
          JOIN tk p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
           AND p2.term = top.t2),
        bo AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_both_docs FROM (
            SELECT DISTINCT tk.doc_id FROM tk JOIN top ON tk.term = top.t1
            INTERSECT
            SELECT DISTINCT tk.doc_id FROM tk JOIN top ON tk.term = top.t2))
        SELECT top.t1, top.t2, top.n_pairs, ph.n_phrase_docs,
               bo.n_both_docs
        FROM top CROSS JOIN ph CROSS JOIN bo"""),
      headline = false),

    // ── inverted-index segment build: delta + varint posting lists ──
    // The index-construction face behind the retrieval pack (BM25 and
    // friends SCORE; this BUILDS the structure they'd serve from):
    // per term, the sorted document posting list is delta-encoded and
    // written as REAL LEB128 bytes ([[graft.functions.Varint]] — the
    // Lucene posting format's integer codec), then decoded back and
    // re-accumulated as the roundtrip proof. One shuffle groups
    // postings by term (sort_array over per-term lists, bounded by
    // document frequency — the standard index-build shape); the
    // varint bytes are produced in the typed partition pass. The
    // oracle prices the segment size by the LEB128 length arithmetic
    // (a gap costs 1 byte below 2^7, 2 below 2^14, 3 below 2^21 —
    // doc ids here stay far below that) over LAG-computed deltas; a
    // codec that mis-split a byte or dropped a continuation bit
    // cannot match both the length and the reaccumulated last-doc.
    "llm_postings_varint" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", explode(tokens).as("term"))
          .filter($"term" =!= "")
          .distinct()
          .groupBy($"term")
          .agg(sort_array(collect_list($"doc_id")).as("ds"),
            count(lit(1)).as("df"))
          .filter($"df" >= 20)
          .as[(String, Seq[Long], Long)]
          .mapPartitions { it =>
            it.map { case (term, ds, df) =>
              val gaps = ds.head +: ds.sliding(2).collect {
                case Seq(a, b) => b - a }.toSeq
              val bytes = graft.functions.Varint.encode(gaps)
              val back = graft.functions.Varint.decode(bytes)
              val docsBack = back.scanLeft(0L)(_ + _).drop(1)
              // roundtrip_ok asserts codec fidelity only; the byte SIZE
              // is pinned by the oracle's bytes_len column (which prices
              // up to 4-byte gaps), so no length bound belongs here — a
              // >=2^21 first doc_id is a legal 4-byte gap, not a failure.
              (term, df, bytes.length.toLong, ds.last, docsBack == ds)
            }
          }
          .toDF("term", "df", "bytes_len", "last_doc", "roundtrip_ok")
          .orderBy($"term")
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT DISTINCT doc_id, term
          FROM (SELECT doc_id,
                  unnest(${graft.functions.TextTokens.tokensSql}) AS term
                FROM documents)
          WHERE term <> ''),
        g AS (
          SELECT term, doc_id,
                 doc_id - COALESCE(LAG(doc_id) OVER (
                   PARTITION BY term ORDER BY doc_id), 0) AS gap
          FROM tok),
        seg AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(CASE WHEN gap < 128 THEN 1
                               WHEN gap < 16384 THEN 2
                               WHEN gap < 2097152 THEN 3
                               ELSE 4 END) AS BIGINT) AS bytes_len,
                 CAST(MAX(doc_id) AS BIGINT) AS last_doc
          FROM g GROUP BY term)
        SELECT term, df, bytes_len, last_doc, TRUE AS roundtrip_ok
        FROM seg
        WHERE df >= 20
        ORDER BY term"""),
      headline = false),

    // ── document fingerprint via the native RollingHash expression ──
    "llm_fingerprint" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            graft.functions.RollingHash.rolling_hash($"text").as("fingerprint"),
            graft.functions.RollingHash.rolling_hash($"text", 131).as("fingerprint_alt"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
          CASE WHEN length(text) = 0 THEN 0 ELSE
            list_reduce(list_prepend(0::BIGINT,
              list_transform(string_split(text, ''), ch -> unicode(ch)::BIGINT)),
              (acc, ch) -> (acc * 31 + ch) % 1000000007) END AS fingerprint,
          CASE WHEN length(text) = 0 THEN 0 ELSE
            list_reduce(list_prepend(0::BIGINT,
              list_transform(string_split(text, ''), ch -> unicode(ch)::BIGINT)),
              (acc, ch) -> (acc * 131 + ch) % 1000000007) END AS fingerprint_alt
        FROM documents
        ORDER BY doc_id""")),

    // ── winnowing local fingerprints (MOSS family) ──
    // Whole-document fingerprints (llm_fingerprint) miss partial
    // overlap; plagiarism/near-copy detection samples LOCAL fingerprints
    // instead. Textbook winnowing (w=4 over token-3-gram hashes): every
    // window of 4 consecutive k-gram fps selects its minimum, ties
    // broken to the RIGHTMOST position; the fingerprint set is the
    // distinct selected (pos, fp). This guarantees a selected fp inside
    // EVERY run of 4 consecutive k-grams (each is exactly one window),
    // so two documents sharing ≥ w+k-1 = 7 consecutive tokens are
    // guaranteed a common selected fp — matching is an equality join on
    // fp, never all-pairs. Leading partial windows (prefixes shorter
    // than w) also select, so any doc with ≥ 1 gram fingerprints.
    // The Spark implementation avoids the 4× window expansion: j is the
    // rightmost min of the window ending at t = j+r iff everything in
    // the window left of j is ≥ fp_j and everything right of j (up to
    // t) is STRICTLY > fp_j, so selection is an OR over r ∈ 0..3 of
    // [Lmin(3-r preceding) ≥ fp] ∧ [Rmin(r following) > fp] ∧ [t < n] —
    // six min-aggregates over ONE per-doc window pass, no row fan-out,
    // no (doc,t)-keyed shuffle (measured 8 s → sub-second at sf0.1).
    // The DuckDB oracle keeps the textbook explicit-expansion form, so
    // the hash match is an equality PROOF that this fold implements the
    // definition.
    "llm_winnowing" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val byPos = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"j")
        def lmin(m: Int) = coalesce(
          min($"fp").over(byPos.rowsBetween(-m, -1)), lit(Long.MaxValue))
        def rmin(r: Int) = coalesce(
          min($"fp").over(byPos.rowsBetween(1, r)), lit(Long.MaxValue))
        val selected =
          (lmin(3) >= $"fp") ||
          ($"j" + 1 <= $"n" - 1 && lmin(2) >= $"fp" && rmin(1) > $"fp") ||
          ($"j" + 2 <= $"n" - 1 && lmin(1) >= $"fp" && rmin(2) > $"fp") ||
          ($"j" + 3 <= $"n" - 1 && rmin(3) > $"fp")
        Tables.documents(s, d)
          .withColumn("tokens", tokens)
          .filter(size($"tokens") >= 3)
          .select($"doc_id", expr(
            """transform(sequence(1, size(tokens) - 2), i ->
                 concat_ws(' ', tokens[i-1], tokens[i], tokens[i+1]))""").as("grams"))
          .transform(graft.functions.TextTokens.materialized)
          .select($"doc_id", size($"grams").as("n"),
            posexplode($"grams").as(Seq("j", "gram")))
          .withColumn("fp", graft.functions.RollingHash.rolling_hash2($"gram"))
          .withColumn("sel", selected) // window exprs can't sit in a WHERE
          .filter($"sel")
          .select($"doc_id", $"j".cast(LongType).as("pos"), $"fp")
          .orderBy($"doc_id", $"pos")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        grams AS (
          SELECT doc_id,
                 len(tokens) - 2 AS n,
                 unnest(list_transform(generate_series(3, len(tokens)),
                   i -> tokens[i-2] || ' ' || tokens[i-1] || ' ' || tokens[i])) AS gram,
                 unnest(generate_series(0, len(tokens) - 3)) AS j
          FROM toks WHERE len(tokens) >= 3),
        f AS (
          SELECT doc_id, n, j,
                 ${fp2Sql("gram")} AS fp
          FROM grams),
        wins AS (
          SELECT doc_id, j, fp, j + r AS t
          FROM f, range(0, 4) rr(r)
          WHERE j + r < n),
        sel AS (
          SELECT doc_id, t, j, fp,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, t
                                    ORDER BY fp ASC, j DESC) AS rn
          FROM wins)
        SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS pos, fp
        FROM sel WHERE rn = 1
        ORDER BY doc_id, pos"""),
      headline = false),

    // ── exact-substring duplication: repeated cross-document spans ──
    // The exact-substring dedup signal (the "repeated 50-gram" family of
    // training-data dedup): fingerprint every 8-token window of every
    // document, count DISTINCT documents per window fingerprint, and
    // score each document by the fraction of its windows that also
    // appear in another document — the per-doc gate a curation pass
    // thresholds on before cutting spans. Plan shape at 100 TB: window
    // fingerprints are map work in the scan (codegen'd rolling hash
    // over a slice), the doc-count is one fp-keyed groupBy with
    // map-side combine, and the score join is fp-equality — work scales
    // with shared-span bucket sizes, never all-pairs. Windows are
    // stride-1 for exactness; a production pass strides W/2 and widens
    // W, which only changes two literals.
    "llm_repeated_spans" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val wfp = Tables.documents(s, d)
          .withColumn("tokens", tokens)
          .filter(size($"tokens") >= 8)
          .select($"doc_id", expr(
            """transform(sequence(1, size(tokens) - 7), i ->
                 concat_ws(' ', slice(tokens, i, 8)))""").as("grams"))
          .transform(graft.functions.TextTokens.materialized)
          .select($"doc_id", posexplode($"grams").as(Seq("j", "gram")))
          .withColumn("fp", graft.functions.RollingHash.rolling_hash2($"gram"))
          .select($"doc_id", $"j", $"fp")
          .pin() // doc-count agg + score join both read it
        val fpDocs = wfp.select($"doc_id", $"fp").distinct()
          .groupBy($"fp").agg(countDistinct($"doc_id").as("n_docs"))
        wfp.join(fpDocs, Seq("fp"))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_windows"),
            sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_repeated"))
          .withColumn("dup_frac",
            round($"n_repeated".cast(DoubleType) / $"n_windows", 9))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(8, len(tokens)),
                   i -> array_to_string(tokens[i-7:i], ' '))) AS gram
          FROM toks WHERE len(tokens) >= 8),
        wfp AS (
          SELECT doc_id, ${fp2Sql("gram")} AS fp
          FROM grams),
        fd AS (
          SELECT fp, COUNT(DISTINCT doc_id) AS n_docs
          FROM wfp GROUP BY fp)
        SELECT w.doc_id,
               COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN fd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_repeated,
               round(CAST(SUM(CASE WHEN fd.n_docs >= 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 9) AS dup_frac
        FROM wfp w JOIN fd ON w.fp = fd.fp
        GROUP BY w.doc_id
        ORDER BY w.doc_id"""),
      headline = true),

    // ── maximal cross-document duplicated SPANS: the removal operator ──
    // llm_repeated_spans scores documents; this emits the spans
    // themselves — (doc_id, start, len) for every maximal run of
    // duplicated tokens ≥ DupSpanMinLen — the "Deduplicating Training
    // Data Makes Language Models Better" (Lee et al. 2022) exact-
    // substring removal operator. Lee et al. build a suffix array; at
    // 100 TB a suffix array is a single-machine artifact, so the same
    // spans come from chaining the stride-1 window fingerprints the
    // scoring pass already computes: a token run of length R ≥ W is
    // duplicated cross-doc iff all R−W+1 of its windows are duplicated,
    // so maximal spans = maximal runs of consecutive duplicated window
    // positions (gaps-and-islands: grp = j − row_number over j), and
    // the span covers tokens [start, start+len) with len = jmax−jmin+W.
    // Plan shape: the same fp groupBy + fp-equality join as the score,
    // then a per-doc window over DUPLICATED positions only (bounded by
    // doc length, partitioned by doc_id — never a global sort, never a
    // driver-side suffix array). DedupSpecs gate reconstructs a planted
    // long duplicate exactly; the oracle re-derives islands in SQL.
    "llm_dup_spans" -> QueryDef(
      fn = (s, d) => dupSpans(
        Tables.documents(s, d), DupSpanMinLen),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(8, len(tokens)),
                   i -> array_to_string(tokens[i-7:i], ' '))) AS gram,
                 unnest(generate_series(0, len(tokens) - 8)) AS j
          FROM toks WHERE len(tokens) >= 8),
        wfp AS (
          SELECT doc_id, j, ${fp2Sql("gram")} AS fp
          FROM grams),
        fd AS (
          SELECT fp FROM (
            SELECT fp, COUNT(DISTINCT doc_id) AS n_docs
            FROM wfp GROUP BY fp) x
          WHERE n_docs >= 2),
        dup AS (
          SELECT w.doc_id, w.j FROM wfp w JOIN fd USING (fp)),
        isl AS (
          SELECT doc_id, j,
                 j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j)
                   AS grp
          FROM dup)
        SELECT doc_id, CAST(MIN(j) AS BIGINT) AS start,
               CAST(MAX(j) - MIN(j) + 8 AS BIGINT) AS len
        FROM isl
        GROUP BY doc_id, grp
        HAVING MAX(j) - MIN(j) + 8 >= $DupSpanMinLen
        ORDER BY doc_id, start"""),
      headline = true),

    // ── duplicated-span removal APPLIED: the cleaned corpus ──
    // llm_dup_spans emits the (start, len) spans; this query CONSUMES
    // them — the actual Lee et al. 2022 output a training pipeline
    // reads: every maximal duplicated span is cut from each
    // non-canonical document (the min-doc_id copy survives), token
    // counts re-derived, untouched documents byte-exact. The oracle
    // re-derives islands, the canonical-owner rule, and splices the
    // kept tokens per document via an index explode + NOT EXISTS — a
    // per-token restatement the Spark side replaces with one doc-keyed
    // span join + a codegen'd higher-order filter (no per-token
    // explode at scale). See [[dupSpansApply]] for the plan shape.
    "llm_dup_spans_apply" -> QueryDef(
      fn = (s, d) => dupSpansApply(
        Tables.documents(s, d), DupSpanMinLen),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(8, len(tokens)),
                   i -> array_to_string(tokens[i-7:i], ' '))) AS gram,
                 unnest(generate_series(0, len(tokens) - 8)) AS j
          FROM toks WHERE len(tokens) >= 8),
        wfp AS (
          SELECT doc_id, j, ${fp2Sql("gram")} AS fp
          FROM grams),
        fd AS (
          SELECT fp, MIN(doc_id) AS min_doc
          FROM wfp GROUP BY fp
          HAVING COUNT(DISTINCT doc_id) >= 2),
        dup AS (
          SELECT w.doc_id, w.j
          FROM wfp w JOIN fd USING (fp)
          WHERE w.doc_id > fd.min_doc),
        isl AS (
          SELECT doc_id, j,
                 j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j)
                   AS grp
          FROM dup),
        spans AS (
          SELECT doc_id, MIN(j) AS s_lo, MAX(j) + 8 AS s_hi
          FROM isl
          GROUP BY doc_id, grp
          HAVING MAX(j) - MIN(j) + 8 >= $DupSpanMinLen),
        idx AS (
          SELECT doc_id, unnest(generate_series(0, len(tokens) - 1)) AS i
          FROM toks WHERE len(tokens) >= 1),
        kept AS (
          SELECT x.doc_id, x.i
          FROM idx x
          WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = x.doc_id
              AND x.i >= s.s_lo AND x.i < s.s_hi))
        SELECT t.doc_id,
               CAST(len(t.tokens) AS BIGINT) AS n_tokens,
               CAST(COUNT(k.i) AS BIGINT) AS n_tokens_clean,
               coalesce(string_agg(t.tokens[k.i + 1], ' ' ORDER BY k.i), '')
                 AS clean_text
        FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
        GROUP BY t.doc_id, t.tokens
        ORDER BY t.doc_id""")),

    // ── exact any-length repeated substrings: distributed suffix array ──
    // What the fingerprint family CANNOT see: repeats shorter than the
    // 8-token window. [[suffixDups]] builds the corpus suffix array by
    // prefix doubling (rounds bounded by log2 of the longest DOCUMENT
    // thanks to per-doc sentinels — the same handful of rounds at
    // sf0.01 and at 100 TB) and reads exact per-position longest-repeat
    // lengths off adjacent-suffix LCPs. Threshold 6 < 8 by design. The
    // oracle is mechanism-independent brute force — every (position,
    // length) gram of the corpus counted for a second occurrence — so
    // the two engines share NO intermediate structure, only the answer
    // (quadratic in doc length: fine at sf0.01, the scale path is the
    // Spark side's n·log(doc) sorts).
    "llm_suffix_dups" -> QueryDef(
      fn = (s, d) => suffixDups(Tables.documents(s, d), SuffixDupMinLen),
      // HEADLINED round 12 (verdict #2), DE-headlined round 16
      // (verdict #7): at 9-14 s the full-corpus census was ~25% of the
      // bench record and its ambient swing (±4.5 s between records on
      // byte-identical code) dwarfed every other query's band width,
      // masking the rest of the record. The oracle contract is
      // unchanged; the HEADLINE face is now the fixed quarter-corpus
      // panel below, which prices the identical plan at a readable
      // share of the record.
      oracle = Some(SuffixDupsOracleSql)),

    // ── the suffix census's HEADLINE face: a fixed quarter-panel ──
    // Identical plan and semantics to llm_suffix_dups (the same
    // [[suffixDups]] doubling over the same per-doc sentinel layout),
    // run over the deterministic doc_id % 4 == 0 panel so the bench
    // prices the operator's plan without the full census's 25%-of-
    // record wall-clock share. The panel modulus parameterizes the
    // oracle identically — this is a complete census of a fixed
    // sub-corpus, not a sample of the full answer.
    "llm_suffix_dups_panel" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        suffixDups(Tables.documents(s, d)
          .filter($"doc_id" % SuffixDupPanelMod === 0), SuffixDupMinLen)
      },
      oracle = Some(suffixDupsOracle(
        s"(SELECT doc_id, text FROM documents WHERE doc_id % $SuffixDupPanelMod = 0) documents")),
      headline = true),

    // ── incremental suffix array: append a shard, rank ONLY the shard ──
    // A training corpus grows by shards; re-running the full doubling
    // over 100 TB to ingest 1 TB is the scale failure [[suffixDupsAppend]]
    // removes: the base's level tables are a frozen index (read via
    // equality joins), shard windows get interleaved (floor, novel-rank)
    // pair ranks per level, and base positions update from the SA-LCP
    // lemma's gap-boundary seeds alone. The contract is HASH-EQUALITY
    // with a full rebuild — one oracle serves both queries — and the
    // spec additionally gates that ranked-row totals don't move when
    // the base quadruples. Split: every 8th doc arrives as the shard.
    "llm_suffix_dups_append" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id", $"text")
        suffixDupsAppend(docs.filter($"doc_id" % 8 =!= 0),
          docs.filter($"doc_id" % 8 === 0), SuffixDupMinLen)
      },
      oracle = Some(SuffixDupsOracleSql)),

    // ── cross-split contamination at ANY length (suffix-array) ──
    // llm_contamination's fixed 8-gram join answers "does an eval
    // 8-gram appear in train"; this answers the question a
    // decontamination audit actually asks — the LONGEST train
    // substring each eval document contains, at any length, plus how
    // many of its positions start a ≥6-token shared run. One shared
    // [[suffixIndex]] over the tagged union, then the
    // nearest-other-split scan ([[suffixContamination]]): a global
    // prefix count + two gap-partitioned segment windows, O(n) beyond
    // the index build — NEVER an eval×train comparison. The eval gate
    // is the same multiplicative hash llm_train_val_split uses. The
    // oracle is mechanism-independent brute force (every eval
    // (position, length) gram probed against the train gram set), so
    // the engines share no intermediate structure, only the answer.
    "llm_suffix_contain" -> QueryDef(
      fn = (s, d) =>
        suffixContamination(Tables.documents(s, d), SuffixDupMinLen),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        tt AS (
          SELECT doc_id, tokens, len(tokens) AS n,
                 ((doc_id % 1000003) * 2654435761) % 1000000 >= 900000
                   AS is_eval
          FROM toks WHERE len(tokens) >= 1),
        pos AS (
          SELECT doc_id, is_eval, tokens, n,
                 unnest(generate_series(1, CAST(n AS INT))) AS p
          FROM tt),
        gs AS (
          SELECT doc_id, is_eval, p,
                 unnest(generate_series(1, CAST(n - p + 1 AS INT))) AS l,
                 tokens
          FROM pos),
        g AS (
          SELECT doc_id, is_eval, p, l,
                 array_to_string(tokens[p:p+l-1], ' ') AS gram
          FROM gs),
        tg AS (SELECT DISTINCT gram FROM g WHERE NOT is_eval),
        rep AS (
          SELECT g.doc_id, g.p,
                 MAX(CASE WHEN tg.gram IS NOT NULL THEN g.l ELSE 0 END)
                   AS maxshared
          FROM g LEFT JOIN tg USING (gram)
          WHERE g.is_eval
          GROUP BY g.doc_id, g.p)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (maxshared >= $SuffixDupMinLen)
                 AS BIGINT) AS n_contam_pos,
               CAST(MAX(maxshared) AS BIGINT) AS max_shared_len
        FROM rep
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ── multi-pattern blocklist: the whole dictionary in ONE scan ──
    // N `contains` probes (or one N-way regex alternation) cost O(N)
    // scans or O(N)-per-position work; [[graft.functions.BlocklistScan]]
    // runs the Aho-Corasick DFA — O(1) per byte for the ENTIRE pattern
    // set, counting every overlapping occurrence and the distinct
    // patterns present. The fixture list nests patterns ("table"/"able",
    // "scan"/"row scan") so overlap counting is actually exercised; the
    // oracle brute-forces every (position, pattern) pair.
    "llm_blocklist_match" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val h = graft.functions.BlocklistScan
          .blocklist_scan(lower($"text"), BlocklistPats)
        Tables.documents(s, d)
          .select($"doc_id", h.as("h"))
          .select($"doc_id", $"h.n_hits".as("n_hits"),
            $"h.n_patterns".as("n_patterns"),
            ($"h.n_hits" > 0L).as("blocked"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH pats AS (SELECT * FROM (VALUES
          ${BlocklistPats.map(p => s"('$p')").mkString(", ")}) AS t(p)),
        pos AS (
          SELECT doc_id, lower(text) AS lt,
                 unnest(generate_series(1, CAST(length(text) AS INT))) AS i
          FROM documents),
        hit AS (
          SELECT doc_id, p
          FROM pos JOIN pats ON substring(lt, i, length(p)) = p),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(DISTINCT p) AS BIGINT) AS n_patterns
          FROM hit GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(a.n_hits, 0) AS n_hits,
               coalesce(a.n_patterns, 0) AS n_patterns,
               coalesce(a.n_hits, 0) > 0 AS blocked
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id"""),
      headline = false),

    // ── PII detection + redaction ──
    // A 100 TB training-data pipeline scrubs emails/phone numbers in a
    // map-only scan: regex detection (count per kind) + replacement with
    // typed placeholder tokens, all codegen'd `functions._` expressions.
    // The synthetic corpus contains no PII, so the query PLANTS it
    // deterministically from doc_id in BOTH engines (docs where
    // doc_id%3>0 gain an email, docs where doc_id%2=0 gain a phone) —
    // this exercises match, no-match, and mixed paths with a full value
    // oracle instead of an all-zeros no-op. Patterns restricted to
    // Java-regex/RE2-identical constructs, defined ONCE in Scala and
    // interpolated into the oracle (single-source-literal rule).
    "llm_pii_redact" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val id = $"doc_id".cast(StringType)
        val aug = concat($"text",
          when($"doc_id" % 3 > 0,
            concat(lit(" contact user"), id, lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 2 === 0,
            concat(lit(" call 555-"), lpad(id, 4, "0"), lit(" today")))
            .otherwise(lit("")))
        Tables.documents(s, d)
          .withColumn("aug", aug)
          .select($"doc_id",
            size(regexp_extract_all($"aug", lit(EmailPat), lit(0)))
              .cast(LongType).as("n_emails"),
            size(regexp_extract_all($"aug", lit(PhonePat), lit(0)))
              .cast(LongType).as("n_phones"),
            regexp_replace(regexp_replace($"aug", EmailPat, "<EMAIL>"),
              PhonePat, "<PHONE>").as("redacted"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH aug AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 3 > 0 THEN
                 ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END
            || CASE WHEN doc_id % 2 = 0 THEN
                 ' call 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' today'
               ELSE '' END AS aug
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '$EmailPat')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(aug, '$PhonePat')) AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(aug, '$EmailPat', '<EMAIL>', 'g'),
            '$PhonePat', '<PHONE>', 'g') AS redacted
        FROM aug
        ORDER BY doc_id""")),

    // ── word-bigram frequency, top 30 ──
    "llm_bigram_freq" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("tokens", tokens)
          .filter(size($"tokens") >= 2)
          .select($"doc_id", expr(
            "transform(sequence(1, size(tokens) - 1), i -> concat(tokens[i-1], ' ', tokens[i]))")
            .as("bigrams"))
          // barrier: Generate re-evaluates its generator per output row —
          // materialize the nested-HOF array once per doc before exploding
          .transform(graft.functions.TextTokens.materialized)
          .select(explode($"bigrams").as("bigram"))
          .groupBy($"bigram")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"bigram")
          .limit(30)
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        grams AS (
          SELECT unnest(list_transform(generate_series(2, len(tokens)),
                        i -> tokens[i-1] || ' ' || tokens[i])) AS bigram
          FROM toks WHERE len(tokens) >= 2)
        SELECT bigram, COUNT(*) AS n
        FROM grams
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 30""")),

    // ── vocabulary coverage curve (the vocab-size selection artifact) ──
    // llm_vocab_coverage evaluates ONE vocab size; choosing it needs
    // the CURVE: cumulative token share of the top-K frequency-ranked
    // vocabulary at K ∈ {1,2,4,8,16,32} — the knee of this curve is
    // where tokenizer budgets land. Ranks via zero-shuffle
    // `globalRank`, the running share via a cumulative window over
    // the VOCABULARY table (vocab-sized, never the corpus), emitted
    // as exact (covered, total) BIGINT rationals per K.
    "llm_vocab_curve" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val tf = Tables.documents(s, d).withColumn("tokens", tokens)
          .select(explode($"tokens").as("term"))
          .groupBy($"term").agg(count(lit(1)).as("f"))
        val ranked = Relational.globalRank(s, tf, Seq($"f".desc, $"term"))
        // the running share rides globalPrefixSum (third consumer of
        // the scan primitive) — even a vocabulary-sized cumulative
        // never funnels through a single-task window
        val cum = Relational.globalPrefixSum(s, ranked, Seq($"rk"), "f")
          .withColumnRenamed("psum", "cumf")
          .pin() // one pass feeds all K cuts
        val tot = cum.agg(sum($"f").as("total"), count(lit(1)).as("vocab"))
        val ks = Seq(1L, 2L, 4L, 8L, 16L, 32L).toDF("k")
        broadcast(ks).join(cum, $"rk" === $"k" - 1L, "left")
          .crossJoin(broadcast(tot))
          .select($"k",
            coalesce($"cumf", $"total").as("covered"),
            $"total", $"vocab",
            least($"k", $"vocab").as("k_effective"))
          .orderBy($"k")
      },
      oracle = Some(s"""
        WITH tf AS (
          SELECT term, COUNT(*) AS f FROM (
            SELECT unnest(${graft.functions.TextTokens.tokensSql}) AS term
            FROM documents) t
          GROUP BY term),
        ranked AS (
          SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) - 1 AS rk
          FROM tf),
        cum AS (
          SELECT rk, SUM(f) OVER (ORDER BY rk
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumf
          FROM ranked),
        tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total,
                       COUNT(*) AS vocab FROM tf),
        ks AS (SELECT unnest([1,2,4,8,16,32]) AS k)
        SELECT CAST(ks.k AS BIGINT) AS k,
               CAST(COALESCE(cum.cumf, tot.total) AS BIGINT) AS covered,
               tot.total, tot.vocab,
               CAST(least(ks.k, tot.vocab) AS BIGINT) AS k_effective
        FROM ks
        LEFT JOIN cum ON cum.rk = ks.k - 1
        CROSS JOIN tot
        ORDER BY k""")),

    // ── term burstiness (dispersion index) ──
    // The corpus-linguistics signal separating TOPICAL words (bursty:
    // absent from most documents, dense in a few) from FUNCTION words
    // (evenly spread): the variance-to-mean ratio of per-document
    // counts, D = (n·Σc² − (Σc)²) / ((n−1)·Σc), emitted as the exact
    // BIGINT rational — D > 1 means burstier than Poisson. Zero
    // counts contribute nothing to either sum, so the per-(term, doc)
    // table only carries occurrences; n is the broadcast corpus size.
    // Two map-side-combined aggregates + a bounded top-20 by corpus
    // frequency.
    "llm_term_burstiness" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val td = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", explode($"tokens").as("term"))
          .groupBy($"term", $"doc_id").agg(count(lit(1)).as("c"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        td.groupBy($"term")
          .agg(sum($"c").as("k"), sum($"c" * $"c").as("k2"),
            count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .select($"term", $"k".as("total"), $"df",
            ($"n".cast(big) * $"k2" - $"k".cast(big) * $"k")
              .cast(LongType).as("disp_num"),
            (($"n" - 1L).cast(big) * $"k")
              .cast(LongType).as("disp_den"))
          .orderBy($"total".desc, $"term")
          .limit(20)
      },
      oracle = Some(s"""
        WITH td AS (
          SELECT term, doc_id, COUNT(*) AS c FROM (
            SELECT doc_id,
                   unnest(${graft.functions.TextTokens.tokensSql}) AS term
            FROM documents) t
          GROUP BY term, doc_id),
        nd AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents),
        agg AS (
          SELECT term, CAST(SUM(c) AS HUGEINT) AS k,
                 CAST(SUM(c * c) AS HUGEINT) AS k2,
                 COUNT(*) AS df
          FROM td GROUP BY term)
        SELECT term, CAST(k AS BIGINT) AS total, df,
               CAST(nd.n * k2 - k * k AS BIGINT) AS disp_num,
               CAST((nd.n - 1) * k AS BIGINT) AS disp_den
        FROM agg CROSS JOIN nd
        ORDER BY total DESC, term
        LIMIT 20""")),

    // ── Zipf-law fit of the rank–frequency curve ──
    // The corpus-health diagnostic: natural text follows freq ∝
    // rank^(−s) with s ≈ 1; a corpus whose fitted exponent drifts far
    // from that is boilerplate-heavy or synthetic. Ranks come from
    // [[Relational.globalRank]] over (freq desc, term) — zero
    // post-sort shuffles, never a single-task window over the
    // vocabulary — and the exponent is the OLS slope of ln f vs ln r
    // with every ln quantized to exact micro-units (decimal-cast
    // before scaling — never float×1e6), the moment sums in
    // DECIMAL(38), and the slope/R² surfaced as the two final double
    // divisions both engines perform identically. The hapax tail
    // (freq < 2) is truncated as Zipf fits conventionally do.
    "llm_zipf_fit" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val big = DecimalType(38, 0)
        val tf = Tables.documents(s, d).withColumn("tokens", tokens)
          .select(explode($"tokens").as("term"))
          .groupBy($"term").agg(count(lit(1)).as("f"))
          .filter($"f" >= 2)
        val ranked = Relational.globalRank(s, tf,
          Seq($"f".desc, $"term"))
        val pts = ranked.select(
          (round(log(($"rk" + 1L).cast(DoubleType)), 6)
            .cast(DecimalType(20, 6)) * 1000000)
            .cast(LongType).cast(big).as("x"),
          (round(log($"f".cast(DoubleType)), 6)
            .cast(DecimalType(20, 6)) * 1000000)
            .cast(LongType).cast(big).as("y"))
        pts.agg(count(lit(1)).as("n_terms"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"),
            sum($"x" * $"x").as("sx2"),
            sum($"y" * $"y").as("sy2"))
          .select($"n_terms",
            round(
              ($"n_terms".cast(big) * $"sxy" - $"sx" * $"sy")
                .cast(DoubleType) /
              ($"n_terms".cast(big) * $"sx2" - $"sx" * $"sx")
                .cast(DoubleType), 9).as("slope"),
            round(
              (($"n_terms".cast(big) * $"sxy" - $"sx" * $"sy")
                .cast(DoubleType) *
               ($"n_terms".cast(big) * $"sxy" - $"sx" * $"sy")
                .cast(DoubleType)) /
              (($"n_terms".cast(big) * $"sx2" - $"sx" * $"sx")
                .cast(DoubleType) *
               ($"n_terms".cast(big) * $"sy2" - $"sy" * $"sy")
                .cast(DoubleType)), 6).as("r2"))
      },
      oracle = Some(s"""
        WITH tf AS (
          SELECT term, COUNT(*) AS f FROM (
            SELECT unnest(${graft.functions.TextTokens.tokensSql}) AS term
            FROM documents) t
          GROUP BY term HAVING COUNT(*) >= 2),
        ranked AS (
          SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rank
          FROM tf),
        pts AS (
          SELECT CAST(CAST(CAST(round(ln(CAST(rank AS DOUBLE)), 6)
                   AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS HUGEINT)
                   AS x,
                 CAST(CAST(CAST(round(ln(CAST(f AS DOUBLE)), 6)
                   AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS HUGEINT)
                   AS y
          FROM ranked),
        m AS (
          SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
                 SUM(y) AS sy, SUM(x * y) AS sxy,
                 SUM(x * x) AS sx2, SUM(y * y) AS sy2
          FROM pts)
        SELECT CAST(n AS BIGINT) AS n_terms,
               round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sx2 - sx * sx AS DOUBLE), 9) AS slope,
               round((CAST(n * sxy - sx * sy AS DOUBLE) *
                      CAST(n * sxy - sx * sy AS DOUBLE)) /
                 (CAST(n * sx2 - sx * sx AS DOUBLE) *
                  CAST(n * sy2 - sy * sy AS DOUBLE)), 6) AS r2
        FROM m""")),

    // ── PMI collocations (pointwise mutual information) ──
    // The corpus-linguistics collocation extractor: PMI(a,b) =
    // ln(p(ab)/(p(a)p(b))) = ln(c₂·T₁² / (T₂·c₁(a)·c₁(b))) over the
    // corpus bigram/unigram tables — high-PMI pairs are multiword
    // expressions ("new york"), the signal tokenizer-vocab and
    // phrase-mining passes rank by. Exact plan: two count shuffles
    // (bigram, unigram — both map-side combined), the two broadcast
    // totals, a min-count floor c₂ ≥ 5 BEFORE the unigram joins, the
    // ratio as one cross-engine-identical double division, ln
    // quantized to 6 digits (the DSIR idiom), and top-20 via
    // TakeOrdered (distributed bounded sort, never a global window).
    "llm_pmi_collocations" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .filter(size($"tokens") >= 2)
          .select($"doc_id", $"tokens")
          .pin() // unigram AND bigram branches
        val uni = toks.select(explode($"tokens").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("c1"))
          .pin() // both join sides + the total
        val t1 = uni.agg(sum($"c1").as("t1"))
        val bi = toks.select($"doc_id", expr(
            "transform(sequence(1, size(tokens) - 1), " +
              "i -> struct(tokens[i-1] AS a, tokens[i] AS b))")
            .as("bigrams"))
          .transform(graft.functions.TextTokens.materialized)
          .select(explode($"bigrams").as("g"))
          .select($"g.a".as("a"), $"g.b".as("b"))
        val c2 = bi.groupBy($"a", $"b").agg(count(lit(1)).as("c2"))
        val t2 = c2.agg(sum($"c2").as("t2"))
        c2.filter($"c2" >= 5)
          .join(uni.select($"w".as("a"), $"c1".as("ca")), Seq("a"))
          .join(uni.select($"w".as("b"), $"c1".as("cb")), Seq("b"))
          .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
          .withColumn("pmi",
            round(log(($"c2" * $"t1" * $"t1").cast(DoubleType) /
              ($"t2" * $"ca" * $"cb").cast(DoubleType)), 6))
          .select($"a", $"b", $"c2", $"pmi")
          .orderBy($"pmi".desc, $"a", $"b")
          .limit(20)
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        tk AS (SELECT doc_id, tokens FROM toks WHERE len(tokens) >= 2),
        uni AS (
          SELECT w, COUNT(*) AS c1 FROM (
            SELECT unnest(tokens) AS w FROM tk)
          GROUP BY w),
        t1 AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1 FROM uni),
        bi AS (
          SELECT g.a, g.b FROM (
            SELECT unnest(list_transform(generate_series(2, len(tokens)),
              i -> {'a': tokens[i-1], 'b': tokens[i]})) AS g
            FROM tk) x),
        c2 AS (SELECT a, b, COUNT(*) AS c2 FROM bi GROUP BY a, b),
        t2 AS (SELECT CAST(SUM(c2) AS BIGINT) AS t2 FROM c2)
        SELECT c2.a, c2.b, c2.c2,
               round(ln(CAST(c2.c2 * t1.t1 * t1.t1 AS DOUBLE) /
                 CAST(t2.t2 * ua.c1 * ub.c1 AS DOUBLE)), 6) AS pmi
        FROM c2
        JOIN uni ua ON ua.w = c2.a
        JOIN uni ub ON ub.w = c2.b
        CROSS JOIN t1 CROSS JOIN t2
        WHERE c2.c2 >= 5
        ORDER BY pmi DESC, c2.a, c2.b
        LIMIT 20""")),

    // ── stratified sampling for training-data mixes ──
    // Deterministic hash-gated sampling with a per-language rate table
    // (broadcast dim join): reproducible across runs, machines, and
    // engines — the property `df.sample()` cannot give — and exactly
    // the shape of corpus-mixing at 100 TB: a map-only scan with a
    // broadcast rate lookup, no shuffle at all.
    "llm_stratified_sample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val rates = Seq(("en", 100L), ("de", 400L), ("fr", 400L), ("es", 700L))
          .toDF("lang", "rate_pm")
        // pre-reduce the id so the Knuth multiply can never overflow a
        // 64-bit BIGINT: (1000003-1) * 2654435761 ≈ 2.7e15 << 2^63.
        // Spark's ANSI mode would THROW on overflow at doc_id ≥ 3.5e9
        // (and DuckDB errors too) — this keeps the gate valid at any id
        Tables.documents(s, d)
          .join(broadcast(rates), Seq("lang"), "left_outer")
          .withColumn("rate_pm", coalesce($"rate_pm", lit(1000L)))
          .filter((($"doc_id" % 1000003L) * 2654435761L) % 1000 < $"rate_pm")
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH rates(lang, rate_pm) AS (
          VALUES ('en', 100), ('de', 400), ('fr', 400), ('es', 700))
        SELECT doc_id, d.lang
        FROM documents d LEFT JOIN rates r USING (lang)
        WHERE ((doc_id % 1000003) * 2654435761) % 1000 < COALESCE(r.rate_pm, 1000)
        ORDER BY doc_id""")),

    // ── composite corpus-cleanup filter (the C4-style chain) ──
    // quality floor + language allowlist + token-length band + exact-dup
    // keep-first, in ONE pass: the dedup-survivor choice is a window
    // min over the content hash (no self-join), filters are codegen'd
    // scan-stage predicates, and the whole thing is a single shuffle
    // (the hash window). Integer-count arithmetic with one final double
    // division keeps both engines bit-identical.
    "llm_corpus_filter" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val n = length($"text").cast(DoubleType)
        val alphaCnt = (length($"text") -
          length(regexp_replace($"text", "[a-zA-Z]", ""))).cast(DoubleType)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2($"text", 256))
        Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens).cast(LongType))
          .withColumn("alpha_ratio", alphaCnt / nullif(n, lit(0.0)))
          .withColumn("keep_id", min($"doc_id").over(w))
          .filter($"doc_id" === $"keep_id" &&
            $"lang".isin("en", "de", "fr", "es") &&
            $"alpha_ratio" >= 0.6 &&
            $"n_tokens".between(20, 5000))
          .select($"doc_id", $"lang", $"n_tokens", $"alpha_ratio")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH scored AS (
          SELECT doc_id, lang,
            CAST(len(${graft.functions.TextTokens.tokensSql}) AS BIGINT) AS n_tokens,
            CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
              / nullif(CAST(length(text) AS DOUBLE), 0.0) AS alpha_ratio,
            MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
          FROM documents)
        SELECT doc_id, lang, n_tokens, alpha_ratio
        FROM scored
        WHERE doc_id = keep_id
          AND lang IN ('en', 'de', 'fr', 'es')
          AND alpha_ratio >= 0.6
          AND n_tokens BETWEEN 20 AND 5000
        ORDER BY doc_id""")),

    // ── unigram surprisal: corpus-LM quality scoring ──
    // Per-document mean -ln p(token) under the corpus unigram model —
    // the quality-filter signal behind CCNet-style pipelines (low
    // surprisal ≈ repetitive boilerplate, high ≈ rare-token noise).
    // Two shuffles (corpus counts, per-doc mean) + one broadcast of the
    // vocabulary counts; per-term surprisal is quantized to 6 digits
    // and summed in DECIMAL so the mean is bit-identical across
    // engines (the ln-ulp + sum-order rules from sim_label_centroids).
    "llm_unigram_surprisal" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // the exploded term list feeds the count aggregate AND the join
        // left side; checkpoint it so tokenize+explode runs once (plain
        // plan reuse would inline the subtree per use — no ReusedExchange
        // fires across these shapes)
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", explode($"tokens").as("term"))
          .pin()
        val counts = toks.groupBy($"term").agg(count(lit(1)).as("c"))
        // total derives from counts — not a third pass over the corpus
        val total = counts.agg(sum($"c").as("n_total"))
        toks.join(counts, Seq("term"))
          .crossJoin(broadcast(total))
          .withColumn("surprisal",
            round(log($"n_total".cast(DoubleType) / $"c"), 6)
              .cast(DecimalType(20, 6)))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum($"surprisal").cast(DoubleType).as("sum_surprisal"))
          .withColumn("mean_surprisal", round($"sum_surprisal" / $"n_tokens", 6))
          .select($"doc_id", $"n_tokens", $"mean_surprisal")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        t AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
        c AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        n AS (SELECT COUNT(*) AS n_total FROM t),
        s AS (
          SELECT t.doc_id,
            CAST(round(ln(CAST(n.n_total AS DOUBLE) / c.c), 6) AS DECIMAL(20,6))
              AS surprisal
          FROM t JOIN c USING (term) CROSS JOIN n)
        SELECT doc_id, COUNT(*) AS n_tokens,
               round(CAST(SUM(surprisal) AS DOUBLE) / COUNT(*), 6)
                 AS mean_surprisal
        FROM s GROUP BY doc_id
        ORDER BY doc_id""")),

    // ── CCNet-style per-language perplexity bucketing ──
    // The head/middle/tail split CCNet (Wenzek et al. 2020) cuts each
    // language into by LM perplexity terciles — the curation knob that
    // keeps "low perplexity" from meaning "looks like English". The
    // per-doc score is the unigram-surprisal chain in EXACT fixed
    // point (decimal sum of 6-digit-quantized ln terms, floored to
    // micro-units per token — every operand nonnegative, so floor and
    // truncate agree across engines); terciles are PER LANGUAGE via
    // [[Relational.groupNtile]] — range-partitioned on (lang, score),
    // so a dominant language spans many partitions instead of
    // funneling through one window task, with zero post-sort shuffles
    // and driver state O(partitions + languages). Output is the
    // (lang, bucket) census with exact score envelopes.
    "llm_perplexity_buckets" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", $"lang", explode($"tokens").as("term"))
          .pin()
        val counts = toks.groupBy($"term").agg(count(lit(1)).as("c"))
        val total = counts.agg(sum($"c").as("n_total"))
        val scored = toks.join(counts, Seq("term"))
          .crossJoin(broadcast(total))
          .withColumn("surprisal",
            round(log($"n_total".cast(DoubleType) / $"c"), 6)
              .cast(DecimalType(20, 6)))
          .groupBy($"doc_id", $"lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum($"surprisal").as("sum_s"))
          .withColumn("mean_micro",
            expr("cast(sum_s * 1000000 as bigint) div n_tokens"))
          .select($"doc_id", $"lang", $"mean_micro")
        Relational.groupNtile(s, scored, 3L, "lang",
            Seq($"mean_micro", $"doc_id"))
          .groupBy($"lang", $"tile".as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min($"mean_micro").as("min_score"),
            max($"mean_micro").as("max_score"))
          .orderBy($"lang", $"bucket")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        t AS (SELECT doc_id, lang, unnest(tokens) AS term FROM toks),
        c AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        n AS (SELECT COUNT(*) AS n_total FROM t),
        sd AS (
          SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
                 SUM(CAST(round(ln(CAST(n.n_total AS DOUBLE) / c.c), 6)
                     AS DECIMAL(20,6))) AS sum_s
          FROM t JOIN c USING (term) CROSS JOIN n
          GROUP BY t.doc_id, t.lang),
        scored AS (
          SELECT lang, doc_id,
                 CAST(sum_s * 1000000 AS BIGINT) // n_tokens AS mean_micro
          FROM sd),
        r AS (
          SELECT lang, mean_micro,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY mean_micro, doc_id) - 1 AS rank0,
                 COUNT(*) OVER (PARTITION BY lang) AS total
          FROM scored),
        b AS (
          SELECT lang, mean_micro,
            CASE WHEN rank0 < ((total // 3) + 1) * (total % 3)
                 THEN rank0 // ((total // 3) + 1) + 1
                 ELSE (rank0 - ((total // 3) + 1) * (total % 3))
                      // greatest(total // 3, 1) + (total % 3) + 1
            END AS bucket
          FROM r)
        SELECT lang, bucket, COUNT(*) AS n_docs,
               MIN(mean_micro) AS min_score, MAX(mean_micro) AS max_score
        FROM b GROUP BY lang, bucket
        ORDER BY lang, bucket""")),

    // ── bigram-LM surprisal: context-aware fluency scoring ──
    // Unigram surprisal scores vocabulary rarity; a bigram model also
    // scores SEQUENCE plausibility — the fluency signal that separates
    // shuffled-word salad from real prose even when the vocabularies
    // match. Per-token-pair surprisal is -ln of the interpolated
    // probability 0.7·p(w2|w1) + 0.3·p(w2) (interpolation keeps unseen
    // continuations finite without smoothing hyperparameters), averaged
    // per document. Two count shuffles (bigram, unigram) + equality
    // joins back — O(corpus) with map-side combine; the ln is rounded
    // to 6 digits before the decimal sum (JVM/libm can differ 1 ulp)
    // and every division/multiply is written identically in both
    // engines, so the means hash-match exactly.
    "llm_bigram_surprisal" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // ONE corpus scan: the tokenized frame is checkpointed (the
        // checkpoint is itself a materialization barrier) and both the
        // unigram and bigram branches derive from it (two plain `docs`
        // uses would each inline the parquet scan)
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", $"tokens")
          .pin()
        val uni = toks.select($"doc_id", explode($"tokens").as("term"))
        // vocabulary-sized; checkpointed — three consumers (total, the
        // cw1 join, the cw2 join) would each re-run the corpus-wide
        // explode+aggregate otherwise
        val c1 = uni.groupBy($"term").agg(count(lit(1)).as("c1"))
          .pin()
        // total derives from the vocabulary-sized c1 aggregate — not a
        // second pass over the exploded corpus (unigram-surprisal rule)
        val total = c1.agg(sum($"c1").as("n_total"))
        // positional bigrams; materialized before the explode (Generate
        // re-evaluates its generator per output row) and checkpointed —
        // feeds the c2 aggregate AND the scoring join (plain plan reuse
        // would inline the explode twice)
        val big = graft.functions.TextTokens.materialized(
            toks.filter(size($"tokens") >= 2)
              .select($"doc_id", expr(
                """transform(sequence(1, size(tokens) - 1), i ->
                     struct(tokens[i-1] AS w1, tokens[i] AS w2))""").as("bs")))
          .select($"doc_id", explode($"bs").as("b"))
          .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
          .pin()
        val c2 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
        big
          .join(c2, Seq("w1", "w2"))
          .join(c1.select($"term".as("w1"), $"c1".as("cw1")), Seq("w1"))
          .join(c1.select($"term".as("w2"), $"c1".as("cw2")), Seq("w2"))
          .crossJoin(broadcast(total))
          .withColumn("p",
            lit(0.7) * ($"c2".cast(DoubleType) / $"cw1".cast(DoubleType)) +
              lit(0.3) * ($"cw2".cast(DoubleType) / $"n_total".cast(DoubleType)))
          .withColumn("surprisal",
            round(-log($"p"), 6).cast(DecimalType(20, 6)))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum($"surprisal").cast(DoubleType).as("sum_surprisal"))
          .withColumn("mean_bigram_surprisal",
            round($"sum_surprisal" / $"n_bigrams", 6))
          .select($"doc_id", $"n_bigrams", $"mean_bigram_surprisal")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        t AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
        c1 AS (SELECT term, COUNT(*) AS c1 FROM t GROUP BY term),
        n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_total FROM c1),
        bg AS (
          SELECT doc_id,
                 unnest(tokens[1:len(tokens)-1]) AS w1,
                 unnest(tokens[2:len(tokens)]) AS w2
          FROM toks WHERE len(tokens) >= 2),
        c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        sc AS (
          SELECT bg.doc_id,
            CAST(round(-ln(
              CAST(0.7 AS DOUBLE) * (CAST(c2.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)) +
              CAST(0.3 AS DOUBLE) * (CAST(u2.c1 AS DOUBLE) / CAST(n.n_total AS DOUBLE))
            ), 6) AS DECIMAL(20,6)) AS surprisal
          FROM bg
          JOIN c2 USING (w1, w2)
          JOIN c1 u1 ON u1.term = bg.w1
          JOIN c1 u2 ON u2.term = bg.w2
          CROSS JOIN n)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(CAST(SUM(surprisal) AS DOUBLE) / COUNT(*), 6)
                 AS mean_bigram_surprisal
        FROM sc GROUP BY doc_id
        ORDER BY doc_id"""),
      headline = false),

    // ── TF-IDF top terms per document ──
    // tf and df are two shuffles (doc×term, then term); idf is
    // quantized to 6 digits before the multiply so the only
    // transcendental (ln) can't drift an ulp between engines. The
    // per-doc ranking window partitions by doc_id — high cardinality,
    // so it parallelizes, unlike a global sort.
    "llm_tfidf_top_terms" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", explode($"tokens").as("term"))
        // checkpoint: tf feeds BOTH the score join and the df aggregate —
        // a plain plan (even behind an object barrier) is inlined per
        // use, re-running tokenize+explode+agg twice
        val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
          .pin()
        val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val ndocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
        tf.join(dfreq, Seq("term"))
          .crossJoin(broadcast(ndocs))
          .withColumn("tfidf",
            $"tf".cast(DoubleType) *
              round(log($"n_docs".cast(DoubleType) / $"df"), 6))
          .withColumn("rk", row_number().over(w).cast(LongType))
          .filter($"rk" <= 3)
          .select($"doc_id", $"rk", $"term", $"tfidf")
          .orderBy($"doc_id", $"rk")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        t AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
            CAST(tf.tf AS DOUBLE) *
              round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n)
        SELECT doc_id, rk, term, tfidf FROM (
          SELECT doc_id, term, tfidf,
            ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rk
          FROM scored)
        WHERE rk <= 3
        ORDER BY doc_id, rk"""),
      // DEMOTED round 9 (headline-cap conformance): term scoring +
      // per-doc windowed top-k is priced by llm_bm25_topk (integer
      // BM25 over the same tf/df aggregates); stays oracle-checked
      headline = false),

    // ── vocabulary coverage: corpus-built top-K vocab + per-doc OOV ──
    // The tokenizer-design loop's first question: how much of each
    // document does a K-term vocabulary cover? Vocab = the top-VocabK
    // terms by corpus occurrence count (ties broken by term — a total
    // order, so the vocab is deterministic and the oracle rebuilds it
    // exactly); each document then scores the share of its token
    // OCCURRENCES outside the vocab. Plan shape: one map-side-combined
    // (doc, term) count, a K-row TakeOrdered vocab that broadcasts,
    // and one per-doc aggregation over the tf frame with the vocab
    // membership resolved by the broadcast left join — the corpus
    // never shuffles for the membership test, only for the two counts.
    "llm_vocab_coverage" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", explode($"tokens").as("term"))
        // checkpoint: tf feeds the vocab build AND the per-doc scoring —
        // inlined plans would tokenize + count the corpus twice
        val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
          .pin()
        val vocab = tf.groupBy($"term").agg(sum($"tf").as("n"))
          .orderBy($"n".desc, $"term").limit(VocabK)
          .select($"term", lit(1L).as("iv"))
        tf.join(broadcast(vocab), Seq("term"), "left")
          .groupBy($"doc_id")
          .agg(sum($"tf").as("n_tokens"),
            sum(when($"iv".isNotNull, $"tf").otherwise(0L)).as("n_cov"))
          .select($"doc_id", $"n_tokens",
            ($"n_tokens" - $"n_cov").as("n_oov"),
            round(($"n_tokens" - $"n_cov").cast(DoubleType) / $"n_tokens", 6)
              .as("oov_rate"))
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        t AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        v AS (SELECT term FROM (
                SELECT term, SUM(tf) AS n FROM tf GROUP BY term)
              ORDER BY n DESC, term LIMIT $VocabK),
        per AS (
          SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
                 SUM(CASE WHEN v.term IS NOT NULL THEN tf.tf ELSE 0 END) AS n_cov
          FROM tf LEFT JOIN v ON v.term = tf.term
          GROUP BY tf.doc_id)
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - n_cov AS BIGINT) AS n_oov,
               round(CAST(n_tokens - n_cov AS DOUBLE) / n_tokens, 6) AS oov_rate
        FROM per
        ORDER BY doc_id""")),

    // ── TextRank keyword significance (unrolled weighted PageRank) ──
    // Mihalcea & Tarau 2004 over the corpus co-occurrence graph: nodes
    // are terms, an undirected edge weights how often two terms are
    // adjacent; 5 damped power-iteration rounds score each term by how
    // central it is among central terms — the graph upgrade of raw
    // frequency (llm_top_terms) that promotes connective vocabulary.
    // Bit-parity across engines runs the ranks in integer NANO-units
    // (fixed point): each per-edge contribution is an IEEE-
    // deterministic double chain (mul/div are correctly rounded, so
    // identical given equal inputs) FLOORed to a BIGINT — floor reads
    // the binary value directly, unlike round(), whose
    // shortest-decimal-string semantics in Spark can split from
    // DuckDB's binary rounding at a half boundary — and summed
    // exactly as integers, so association order can't drift an ulp.
    // The oracle unrolls all 5 rounds as CTEs over the same
    // arithmetic.
    // Scale: the edge list is one map-side-combined groupBy of the
    // token stream; each round is one equality join of the O(vocab)
    // rank table into the edge list (shuffle on u) + one map-side-
    // combined sum (shuffle on v) — never O(corpus) per round, and the
    // iteration count is fixed, not data-dependent.
    "llm_textrank" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val Iters = 5
        val pairs = Tables.documents(s, d)
          .withColumn("toks", tokens)
          .filter(size($"toks") >= 2)
          .select($"doc_id", expr(
            "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS u, toks[i] AS v))")
            .as("prs"))
          // barrier: Generate re-evaluates its generator per output row
          .transform(graft.functions.TextTokens.materialized)
          .select(explode($"prs").as("p"))
          .select($"p.u".as("u"), $"p.v".as("v"))
          .filter($"u" =!= $"v")
        val edges = pairs
          .union(pairs.select($"v".as("u"), $"u".as("v")))
          .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
          .pin() // reused by wsum, nodes, and all 5 rounds
        // ew is read by EVERY power-iteration round; un-pinned, each
        // round's plan re-ran the wsum aggregate and its join (5×),
        // and the node-count 1-row frame was re-derived and
        // re-broadcast per round (6 broadcast jobs + 6 distinct
        // shuffles). The count is a bounded driver scalar — the
        // per-round damping terms become literals, byte-identical
        // arithmetic (same IEEE division + floor) to the old
        // broadcast column (guide §2.4: remove repeated exchanges).
        // r17 A/B: pre-partitioning ew on u before the pin was tried
        // and REVERTED — the round joins broadcast the vocab-sized
        // ranks side, so ew streams in place and never re-exchanges;
        // the added repartition was one pure-cost exchange (probe 18
        // -> 19 jobs). The five per-round exchanges in the plan are
        // the groupBy(v) rank aggregations — the PageRank data
        // movement itself.
        val ew = edges
          .join(edges.groupBy($"u").agg(sum($"w").as("wu")), Seq("u"))
          .pin()
        val n = edges.select($"u").distinct().count()
        val r0 = math.floor(1.0e9 / n).toLong
        val damp = math.floor(0.15e9 / n).toLong
        var ranks = edges.select($"u".as("term")).distinct()
          .select($"term", lit(r0).as("r"))
        for (_ <- 1 to Iters) {
          ranks = ew.join(ranks, $"u" === $"term")
            .select($"v",
              floor(lit(0.85) * $"r" * $"w" / $"wu").cast(LongType).as("c"))
            .groupBy($"v").agg(sum($"c").as("cs"))
            .select($"v".as("term"), (lit(damp) + $"cs").as("r"))
        }
        ranks
          .select($"term", $"r".as("rank_nano"))
          .orderBy($"rank_nano".desc, $"term")
          .limit(25)
      },
      oracle = Some {
        val rounds = (1 to 5).map { i =>
          s"""
        c$i AS (
          SELECT e.v,
                 CAST(SUM(CAST(FLOOR(0.85::DOUBLE * p.r * e.w / ws.wu) AS BIGINT))
                   AS BIGINT) AS cs
          FROM edges e JOIN r${i - 1} p ON p.term = e.u
                       JOIN wsum ws ON ws.u = e.u
          GROUP BY e.v),
        r$i AS (
          SELECT c.v AS term,
                 CAST(FLOOR(0.15e9::DOUBLE / n.n) AS BIGINT) + c.cs AS r
          FROM c$i c, n)"""
        }.mkString(",")
        s"""
        WITH toks AS (
          SELECT ${graft.functions.TextTokens.tokensSql} AS toks FROM documents),
        dp AS (
          SELECT unnest(list_transform(generate_series(2, len(toks)),
                        i -> {'u': toks[i-1], 'v': toks[i]})) AS p
          FROM toks WHERE len(toks) >= 2),
        pairs AS (SELECT p.u AS u, p.v AS v FROM dp WHERE p.u <> p.v),
        edges AS (
          SELECT u, v, COUNT(*) AS w FROM (
            SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs)
          GROUP BY u, v),
        wsum AS (SELECT u, SUM(w) AS wu FROM edges GROUP BY u),
        n AS (SELECT COUNT(DISTINCT u) AS n FROM edges),
        r0 AS (
          SELECT DISTINCT u AS term,
                 CAST(FLOOR(1.0e9::DOUBLE / n.n) AS BIGINT) AS r
          FROM edges, n),$rounds
        SELECT term, r AS rank_nano
        FROM r5
        ORDER BY rank_nano DESC, term
        LIMIT 25"""
      },
      headline = true),

    // ── BM25 ranked retrieval (Robertson & Zaragoza 2009) ──
    // The retrieval operator a curation pipeline runs for targeted
    // selection and benchmark decontamination sweeps: score every
    // document against a query term set under BM25 (k1=1.2, b=0.75,
    // idf = ln((N+1)/(df+0.5)) spelled as integer-ratio ln((2N+2)/
    // (2df+1))) and return the top-BmK. The whole score chain is
    // integer/decimal fixed point — the ONLY float op is the idf ln,
    // quantized to 6 digits (the DSIR idiom) — so ranks cannot drift
    // an ulp between engines:
    //   avgdl_u  = floor(Σdl·10^6 / N)        exact via div/mod split
    //              (no 10^6·Σdl BIGINT product — Σdl at 100 TB is
    //              ~10^14 tokens and the naive product overflows)
    //   r_u      = (dl·10^6) div avgdl_u      dl/avgdl, micro units
    //   den      = 10·tf·10^6 + 3·10^6 + 9·r_u   10×micro units of
    //              tf + 0.3 + 0.9·dl/avgdl (k1=1.2, b=0.75 ×10 exact)
    //   ratio_u  = (22·tf·10^6 ·10^6) div den    tf·(k1+1)/den, micro;
    //              the 10^19-capable product rides DECIMAL(38,0) with
    //              Spark `div` / DuckDB HUGEINT `//` — both exact
    //              integral division, no decimal-scale rounding
    //   score_u  = floor(Σ_terms idf_d6 · ratio_u)  micro units, the
    //              per-term product DECIMAL(20,6)×BIGINT (exact)
    // Plan shape: the tf branch filters to the 5 query terms BEFORE
    // its groupBy (the per-doc-term shuffle carries only query-term
    // rows — at 100 TB the broadcast-membership filter is the point
    // of an inverted index, expressed here as predicate + map-side
    // combine); df and the (N, Σdl) stats are two tiny broadcast
    // aggregates; ranking rides the bounded-buffer TopKAggregator
    // (≤BmK rows per partition cross the single-group shuffle), never
    // a global window sort. Corpus scanned twice (dl needs all
    // tokens, tf only query-term rows) — both scans map-only.
    "llm_bm25_topk" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val topk = udaf(new graft.functions.TopKAggregator(BmK))
        bm25Scored(s, d)
          .groupBy()
          .agg(topk($"score_u".cast(DoubleType), $"doc_id").as("top"))
          .select(posexplode(arrays_zip($"top.scores", $"top.ids"))
            .as(Seq("i", "pair")))
          .select(($"i" + 1).cast(LongType).as("rnk"),
            $"pair.ids".as("doc_id"),
            $"pair.scores".cast(LongType).as("score_u"))
          .orderBy($"rnk")
      },
      oracle = Some(s"""
        $Bm25ScoredCtes
        SELECT CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
                 AS BIGINT) AS rnk, doc_id, score_u
        FROM scored
        ORDER BY score_u DESC, doc_id
        LIMIT $BmK"""),
      headline = true),

    // ── hybrid retrieval: BM25 ⊕ dense-vector ranking fused by RRF ──
    // The modern search-serving shape: a lexical ranking (the exact
    // integer BM25 above, via [[bm25Scored]] — shared code AND shared
    // oracle CTEs, so the two surfaces can never drift) and a dense
    // ranking (cosine against a query vector — here vec_id 0's
    // embedding, docs and vectors sharing the id space) each produce
    // a top-k; Reciprocal Rank Fusion (Cormack et al., SIGIR'09)
    // combines them with score Σ 1/(60 + rank). The fusion runs in
    // exact integer micro-units (10¹² div (60+r)) — rank arithmetic
    // needs no floats. Both top-k's ride the bounded-buffer
    // TopKAggregator (≤k rows cross each shuffle); the fuse join is
    // k-row × k-row. The dense face is the brute-force scan at
    // fixture scale — a deployment swaps in the IVF/PQ index
    // (sim_ann_ivfpq) for the candidate set without touching the
    // fusion; the single-row query-vector broadcast is the
    // coordinator-probe pattern.
    "llm_hybrid_rrf" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        import graft.functions.VectorFunctions
        val topkL = udaf(new graft.functions.TopKAggregator(BmK))
        val topkV = udaf(new graft.functions.TopKAggregator(BmK))
        val lexTop = bm25Scored(s, d)
          .groupBy()
          .agg(topkL($"score_u".cast(DoubleType), $"doc_id").as("top"))
          .select(posexplode(arrays_zip($"top.scores", $"top.ids"))
            .as(Seq("i", "pair")))
          .select(($"i" + 1).cast(LongType).as("lex_rnk"),
            $"pair.ids".as("doc_id"))
        val q = Tables.embeddings(s, d).filter($"vec_id" === 0)
          .select(VectorFunctions.toDoubleArray($"embedding").as("qemb"))
        val vecTop = Tables.embeddings(s, d).filter($"vec_id" =!= 0)
          .select($"vec_id", VectorFunctions.toDoubleArray($"embedding").as("emb"))
          .crossJoin(broadcast(q))
          .select($"vec_id",
            round(VectorFunctions.cosine($"emb", $"qemb"), 9).as("cos"))
          .groupBy()
          .agg(topkV($"cos", $"vec_id").as("top"))
          .select(posexplode(arrays_zip($"top.scores", $"top.ids"))
            .as(Seq("i", "pair")))
          .select(($"i" + 1).cast(LongType).as("vec_rnk"),
            $"pair.ids".as("doc_id"))
        lexTop.join(vecTop, Seq("doc_id"), "full_outer")
          .withColumn("rrf_u",
            coalesce(expr("1000000000000 div (60 + lex_rnk)"), lit(0L)) +
              coalesce(expr("1000000000000 div (60 + vec_rnk)"), lit(0L)))
          .select($"doc_id", $"lex_rnk", $"vec_rnk", $"rrf_u")
          .orderBy($"rrf_u".desc, $"doc_id")
      },
      oracle = Some(s"""
        $Bm25ScoredCtes,
        lt AS (
          SELECT doc_id, CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
                   AS BIGINT) AS lex_rnk
          FROM scored
          ORDER BY score_u DESC, doc_id
          LIMIT $BmK),
        q AS (
          SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = 0),
        ce AS (
          SELECT vec_id,
            round(
              list_sum(list_transform(generate_series(1, len(emb)),
                i -> emb[i] * qemb[i])) /
              (sqrt(list_sum(list_transform(emb, x -> x*x))) *
               sqrt(list_sum(list_transform(qemb, x -> x*x)))), 9) AS cos
          FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
                FROM embeddings WHERE vec_id <> 0)
          CROSS JOIN q),
        vt AS (
          SELECT vec_id AS doc_id,
                 CAST(row_number() OVER (ORDER BY cos DESC, vec_id)
                   AS BIGINT) AS vec_rnk
          FROM ce
          ORDER BY cos DESC, vec_id
          LIMIT $BmK)
        SELECT COALESCE(lt.doc_id, vt.doc_id) AS doc_id,
               lt.lex_rnk, vt.vec_rnk,
               COALESCE(1000000000000 // (60 + lex_rnk), 0) +
               COALESCE(1000000000000 // (60 + vec_rnk), 0) AS rrf_u
        FROM lt FULL OUTER JOIN vt ON lt.doc_id = vt.doc_id
        ORDER BY rrf_u DESC, doc_id""")),

    // ── character-bigram entropy (compression-proxy quality filter) ──
    // The entropy/compressibility heuristic of the Dolma/RefinedWeb
    // filter stacks: machine-generated boilerplate and pathological
    // repetition compress far better than natural text, and char-bigram
    // Shannon entropy is the codec-free proxy — H = ln N − (Σ c·ln c)/N
    // over the doc's bigram counts (N = len−1 bigrams, c = each
    // distinct bigram's count). All arithmetic is the repo's fixed-
    // point idiom: each ln rides CAST(round(ln x, 6) AS DECIMAL(20,6))
    // (the DSIR spelling), products/sums stay exact DECIMAL, the final
    // division is integer `div` on micro-units — no float association
    // anywhere, so the score is bit-identical in both engines.
    // Plan shape: one explode + ONE (doc_id, bigram) map-side-combined
    // count (the Gopher-battery altitude), one per-doc fold — shuffle
    // is O(distinct (doc, bigram)), embarrassingly parallel at 100 TB.
    // A per-row array_sort+fold HOF alternative would avoid the
    // exchange but runs interpreted per character (the measured reason
    // the gram operators compile natively instead).
    "llm_char_entropy" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val bi = Tables.documents(s, d)
          .filter(length($"text") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, length(text) - 1), " +
              "i -> substring(text, i, 2))")).as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        bi.groupBy($"doc_id")
          .agg(sum($"c").as("n_bigrams"),
            count(lit(1)).as("distinct_bigrams"),
            expr("sum(c * cast(round(ln(cast(c as double)), 6) " +
              "as decimal(20,6)))").as("sum_clnc"))
          .select($"doc_id", $"n_bigrams", $"distinct_bigrams",
            expr("cast((cast(round(ln(cast(n_bigrams as double)), 6) " +
              "as decimal(20,6)) * n_bigrams - sum_clnc) * 1000000 " +
              "as bigint) div n_bigrams").as("entropy_u"))
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH bg AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, length(text) - 1),
                   i -> text[i:i+1])) AS bg
          FROM documents WHERE length(text) >= 2),
        cnt AS (
          SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_bigrams,
                 CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
                 SUM(c * CAST(round(ln(CAST(c AS DOUBLE)), 6)
                     AS DECIMAL(20,6))) AS sum_clnc
          FROM cnt GROUP BY doc_id)
        SELECT doc_id, n_bigrams, distinct_bigrams,
               CAST((CAST(round(ln(CAST(n_bigrams AS DOUBLE)), 6)
                     AS DECIMAL(20,6)) * n_bigrams - sum_clnc) * 1000000
                    AS BIGINT) // n_bigrams AS entropy_u
        FROM agg
        ORDER BY doc_id""")),

    // ── interpolated Kneser–Ney bigram surprisal (the KenLM filter) ──
    // llm_bigram_surprisal interpolates against the raw unigram
    // distribution; production LM-based quality filters (KenLM /
    // CCNet's perplexity gate) use Kneser–Ney, whose backoff weights
    // CONTINUATION counts instead: P(w2|w1) = (c(w1w2) − D)/h(w1) +
    // (D·N1+(w1·)/h(w1)) · N1+(·w2)/T, with h(w1) the bigram-history
    // count, N1+(w1·)/N1+(·w2) the distinct-successor/-predecessor
    // counts, T the distinct bigram types, and D = 0.75 (exactly 3/4
    // in binary — no literal drift). "san francisco" makes
    // "francisco" common but a poor NOVEL continuation — exactly what
    // continuation counts encode and raw-frequency backoff misses.
    // All model statistics are integer aggregates of the ONE bigram
    // count table (three vocabulary-sized reductions of c2 — never a
    // second corpus pass); scoring is the corpus-sized equality join
    // back, with the ln rounded to 6 digits before the decimal sum
    // (the pack's ulp rule). Scored bigrams always have c ≥ 1, so the
    // max(c−D, 0) clamp never truncates and the probability is
    // strictly positive.
    "llm_kn_surprisal" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d).withColumn("tokens", tokens)
          .select($"doc_id", $"tokens")
          .pin()
        val big = graft.functions.TextTokens.materialized(
            toks.filter(size($"tokens") >= 2)
              .select($"doc_id", expr(
                """transform(sequence(1, size(tokens) - 1), i ->
                     struct(tokens[i-1] AS w1, tokens[i] AS w2))""").as("bs")))
          .select($"doc_id", explode($"bs").as("b"))
          .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
          .pin()
        // the single bigram-type table; all four model statistics
        // derive from it (h, Nfw per w1; Nbw per w2; T global)
        val c2 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
          .pin()
        val h = c2.groupBy($"w1").agg(
          sum($"c2").as("h"), count(lit(1)).as("nfw"))
        val bw = c2.groupBy($"w2").agg(count(lit(1)).as("nbw"))
        val t = c2.agg(count(lit(1)).as("t"))
        big
          .join(c2, Seq("w1", "w2"))
          .join(h, Seq("w1"))
          .join(bw, Seq("w2"))
          .crossJoin(broadcast(t))
          .withColumn("p",
            ($"c2".cast(DoubleType) - lit(0.75)) / $"h".cast(DoubleType) +
              (lit(0.75) * $"nfw".cast(DoubleType) / $"h".cast(DoubleType)) *
                ($"nbw".cast(DoubleType) / $"t".cast(DoubleType)))
          .withColumn("surprisal",
            round(-log($"p"), 6).cast(DecimalType(20, 6)))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum($"surprisal").cast(DoubleType).as("sum_surprisal"))
          .withColumn("mean_kn_surprisal",
            round($"sum_surprisal" / $"n_bigrams", 6))
          .select($"doc_id", $"n_bigrams", $"mean_kn_surprisal")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextTokens.tokensSql} AS tokens
          FROM documents),
        bg AS (
          SELECT doc_id,
                 unnest(tokens[1:len(tokens)-1]) AS w1,
                 unnest(tokens[2:len(tokens)]) AS w2
          FROM toks WHERE len(tokens) >= 2),
        c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        h AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS h, COUNT(*) AS nfw
              FROM c2 GROUP BY w1),
        bw AS (SELECT w2, COUNT(*) AS nbw FROM c2 GROUP BY w2),
        t AS (SELECT COUNT(*) AS t FROM c2),
        sc AS (
          SELECT bg.doc_id,
            CAST(round(-ln(
              (CAST(c2.c2 AS DOUBLE) - 0.75) / CAST(h.h AS DOUBLE) +
              (0.75 * CAST(h.nfw AS DOUBLE) / CAST(h.h AS DOUBLE)) *
                (CAST(bw.nbw AS DOUBLE) / CAST(t.t AS DOUBLE))
            ), 6) AS DECIMAL(20,6)) AS surprisal
          FROM bg
          JOIN c2 USING (w1, w2)
          JOIN h USING (w1)
          JOIN bw USING (w2)
          CROSS JOIN t)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(CAST(SUM(surprisal) AS DOUBLE) / COUNT(*), 6)
                 AS mean_kn_surprisal
        FROM sc GROUP BY doc_id
        ORDER BY doc_id""")),
  )
}
