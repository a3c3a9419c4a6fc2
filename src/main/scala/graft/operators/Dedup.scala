package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.{QueryDef, QueryPack, Tables}
import graft.functions.RollingHash.{rolling_hash, rolling_hash2}
import graft.functions.VectorFunctions

/** Deduplication operators for the training-data-pipeline track
  * (SURVEY.md §2.3): exact content-hash dedup (generalizing the
  * reference's sha-256 identity check, `FtpMonitor.scala:56,96-99`),
  * MinHash signatures + banded LSH candidate pairs, SimHash with
  * hamming-distance pairs, word-shingle Jaccard, and embedding-cosine
  * near-duplicates.
  *
  * Engine-neutral hashing: every hash is a polynomial rolling hash
  * (`graft.functions.RollingHash`, a codegen'd Catalyst expression) —
  * the same fold is ANSI-SQL-expressible, so even the MinHash/SimHash
  * *values* are oracle-checked, not just row counts.
  *
  * Scale design: shingling/hashing are per-row map work in the scan
  * stage (whole-stage codegen, no shuffle); MinHash aggregates shuffle
  * (doc × 16 perms) which is O(docs), not O(shingles); LSH banding
  * turns the quadratic all-pairs problem into equality joins on band
  * keys. The only intentionally quadratic queries (simhash/jaccard/
  * cosine pairs) are restricted per-group and exist to oracle-check the
  * LSH shortcuts.
  */
object Dedup extends QueryPack {

  // single-source hash constants: the oracle fingerprint SQL must stay
  // bit-identical to RollingHash.hash2 (fp = hashP1 + hashP2 * Mod)
  private val Mod = graft.functions.RollingHash.Mod
  private val P1 = graft.functions.RollingHash.P1.toInt
  private val P2 = graft.functions.RollingHash.P2.toInt

  private def tokensCol: Column = graft.functions.TextTokens.tokens
  private val tokensSql = graft.functions.TextTokens.tokensSql

  /** Distinct word 3-gram shingles. */
  private def shinglesCol: Column = array_distinct(expr(
    """CASE WHEN size(tokens) >= 3 THEN
         transform(sequence(1, size(tokens) - 2), i ->
           concat_ws(' ', tokens[i-1], tokens[i], tokens[i+1]))
       ELSE array() END"""))
  private val shinglesSql =
    """list_distinct(CASE WHEN len(tokens) >= 3 THEN
         list_transform(generate_series(3, len(tokens)), i ->
           tokens[i-2] || ' ' || tokens[i-1] || ' ' || tokens[i])
       ELSE [] END)"""

  /** DuckDB twin of RollingHash(prime) for a non-empty string expr
    * (single-sourced next to the Scala implementation). */
  private def fpSql(v: String, prime: Int): String =
    graft.functions.RollingHash.fpSql(v, prime)

  /** Normalized edit-distance near-dup threshold (`dedup_fuzzy_edit`):
    * keep a candidate pair iff levenshtein ≤ 50‰ of the longer text.
    * On the sf0.01 fixture the 8-token-window candidate set spans
    * 7-63‰, so the verify stage PASSES 24 pairs and REJECTS one —
    * both branches exercised. */
  private val FuzzyPermille = 50

  /** Sorted-neighborhood window width (positional successors compared
    * per record). Declared BEFORE the queries Map: the oracle SQL
    * interpolates it at Map-initialization time. */
  private val SnWindow = 10


  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("tokens", tokensCol)

  /** (doc_id, fps): distinct shingle FINGERPRINTS per document — long
    * arrays, not strings, so the verify joins ship ~8 bytes per shingle.
    * The fingerprint is the double-prime ~2^60-space hash (h31 +
    * h131*Mod), so set-Jaccard over distinct fps equals string-set
    * Jaccard even at corpus scale — a single 10^9+7 hash would already
    * have ~30% collision odds at sf0.1's 27k distinct shingles.
    * Checkpointed: this frame feeds the signature agg once and the
    * candidate-verify join twice — without the checkpoint each use
    * re-runs the tokenize+shingle+fingerprint corpus scan. */
  private def shingleFps(s: SparkSession, d: String): DataFrame =
    fpsOf(Tables.documents(s, d)).pin()

  /** The (doc_id, text) → (doc_id, fps) transformation behind
    * [[shingleFps]], usable on ANY document frame (e.g. a streaming
    * micro-batch in `streaming.StreamingDedup.nearDedupStream`) —
    * same tokenizer, shingling, and double-prime fingerprints, so
    * fps frames from different entry points verify against each
    * other exactly. NOT checkpointed; multi-consumer callers pin it
    * themselves. */
  private[graft] def fpsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    materialized(docs.withColumn("tokens", tokensCol)
        .select($"doc_id", shinglesCol.as("shingles")))
      .select($"doc_id", array_distinct(transform($"shingles",
        sh => rolling_hash2(sh))).as("fps"))
  }

  /** (doc_id, lang, n, fps) for the containment faces: distinct
    * 3-shingle fingerprints plus the set size — the per-doc frame both
    * the batch `dedup_containment` semantics and
    * [[graft.streaming.StreamingDedup.containmentStream]] consume.
    * Shingle-less docs drop (they can contain nothing). */
  private[graft] def containmentFpsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    materialized(docs.withColumn("tokens", tokensCol)
        .select($"doc_id", $"lang", shinglesCol.as("shingles")))
      .select($"doc_id", $"lang", array_distinct(transform($"shingles",
        sh => rolling_hash2(sh))).as("fps"))
      .filter(size($"fps") > 0)
      .withColumn("n", size($"fps").cast(LongType))
  }

  /** One micro-batch of containment pairs against the fp-bucketed
    * postings state — the incremental-AllPairs discipline of
    * [[prefixIncrementalAgainstState]] applied to the ASYMMETRIC
    * measure: candidates are shared-fingerprint (same-lang) pairs from
    * batch×state (either orientation — an old doc may be the small
    * side of a new big one) plus batch×batch, canonicalized to
    * (smaller set, bigger set) by the same (n, doc_id) struct order as
    * the batch query; verification fetches both full fingerprint sets
    * by doc_id and keeps inter/n_small ≥ 0.8 exactly. State-side scan
    * meets the batch ON the fp bucketing — zero state exchange. A
    * replay's double fold is benign: candidates are distinct-ed, the
    * doc_id lookup drops duplicate copies (byte-identical content),
    * and a doc meeting its own persisted copy is excluded by the
    * doc_id inequality guard — emission is at-least-once per PAIR with
    * identical rows, the package's delivery contract. */
  private[graft] def containmentIncrementalAgainstState(
      s: SparkSession, inc: DataFrame, incPosts: DataFrame,
      postsTable: String, fpsTable: String): DataFrame = {
    import s.implicits._
    val st = s.table(postsTable)
    val candState = incPosts.as("i")
      .join(st.as("st"), $"i.fp" === $"st.fp" &&
        $"i.lang" === $"st.lang" && $"i.doc_id" =!= $"st.doc_id")
      .select(
        when(struct($"i.n", $"i.doc_id") < struct($"st.n", $"st.doc_id"),
          struct($"i.doc_id".as("id_s"), $"st.doc_id".as("id_b")))
          .otherwise(
            struct($"st.doc_id".as("id_s"), $"i.doc_id".as("id_b")))
          .as("p"))
      .select($"p.id_s".as("id_s"), $"p.id_b".as("id_b"))
      .distinct()
    val candBatch = incPosts.as("a")
      .join(incPosts.as("b"), $"a.fp" === $"b.fp" &&
        $"a.lang" === $"b.lang" &&
        struct($"a.n", $"a.doc_id") < struct($"b.n", $"b.doc_id"))
      .select($"a.doc_id".as("id_s"), $"b.doc_id".as("id_b"))
      .distinct()
    val lookup = inc.select($"doc_id", $"n", $"fps")
      .unionByName(s.table(fpsTable).select($"doc_id", $"n", $"fps"))
      .dropDuplicates("doc_id") // replayed double folds are byte-equal
    candState.unionByName(candBatch).distinct()
      .join(lookup.select($"doc_id".as("id_s"), $"n".as("n_small"),
        $"fps".as("f_s")), Seq("id_s"))
      .join(lookup.select($"doc_id".as("id_b"), $"n".as("n_big"),
        $"fps".as("f_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect($"f_s", $"f_b")).cast(LongType))
      .filter($"inter" * 10L >= $"n_small" * 8L)
      .select($"id_s".as("doc_small"), $"id_b".as("doc_big"), $"inter",
        $"n_small", $"n_big",
        round($"inter".cast(DoubleType) / $"n_small".cast(DoubleType), 9)
          .as("containment"))
  }

  /** Distinct unordered id pairs (`id1` < `id2`) co-bucketed by
    * `keyCols` — the candidate primitive behind every LSH band join —
    * with per-task work bounded even under a PATHOLOGICAL hot bucket
    * (constant-ish documents collapsing a band key, the one skew AQE
    * cannot subdivide because the quadratic blowup happens inside a
    * single join group, not across partitions).
    *
    * Adaptive, like [[componentLabels]]: bucket widths cost one count
    * over the (small, sketch-derived) banded frame; when every bucket
    * is ≤ `maxBucket` wide the plan IS the plain equality self-join of
    * before. Past the cap, each hot bucket's rows are split into
    * G = ceil(width / maxBucket) deterministic hash groups and the join
    * enumerates the G(G+1)/2 group pairs — the
    * `dedup_embedding_blocked` schedule applied inside one bucket — so
    * no task ever compares more than ~`maxBucket`² rows while the pair
    * set stays EXACTLY the plain join's (DedupSpec's planted-skew gate
    * asserts equality on both paths). Replication cost on a hot row is
    * G+1 copies; untouched buckets replicate nothing (G = 1).
    *
    * `carry` columns ride along into the output as `<col>1`/`<col>2`
    * (side-consistent with the id ordering), so verification data a
    * caller already has in the banded frame — a 60-bit sketch, a lang
    * tag — needs no re-join against the pair set. The width probe is
    * one extra ACTION over the banded frame per call: the price of
    * adaptivity, ~a job at fixture scale, one aggregate pass of the
    * smallest frame in the pipeline at 100 TB. `widthBound` (r17,
    * verdict item 6) lets a caller whose band-frame PIN already
    * computed an upper bound on every bucket's width
    * ([[org.apache.spark.sql.graftshim.Shim.pinWithWidthBound]]) skip
    * that probe when the bound certifies every bucket ≤ `maxBucket`;
    * a bound past the cap falls back to the exact probe, so the
    * chosen plan is identical in every case — only the
    * certified-common case saves the pass.
    *
    * Probe-free alternatives were A/B-measured at sf0.1 and REJECTED:
    * (1) always-general block-pair plan with the df⋈widths frame
    * checkpointed — 13.2 s vs 9.2 s over the five LSH bench queries
    * (the heavier join + struct distinct dwarf the probe job saved);
    * (2) data-dependent cool/hot split (plain join under the cap,
    * block-pair above, union) — 13.8 s, because the widths JOIN is a
    * full shuffle of the banded frame where the probe is a map-side-
    * combined count (and dropping the caller checkpoints recomputed
    * the LSH assignments per branch: dedup_embedding_ann_pairs 3.6 →
    * 7.2 s). The probe job is the cheapest adaptivity mechanism of the
    * three measured. */
  private[operators] def boundedBucketPairs(
      df: DataFrame,
      idCol: String,
      keyCols: Seq[String],
      maxBucket: Long = 4096L,
      carry: Seq[String] = Nil,
      widthBound: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    require(maxBucket > 0, "maxBucket must be positive")
    val keys = keyCols.map(col)
    val sameKeys = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    lazy val widths = df.groupBy(keys: _*).agg(count(lit(1)).as("__bb_w"))
    val maxW =
      if (widthBound.exists(_ <= maxBucket)) 0L // certified: probe skipped
      else widths.agg(max($"__bb_w")).head().get(0) match {
        case null => 0L
        case w: Long => w
      }
    def outCols(side1: String => Column, side2: String => Column): Seq[Column] =
      side1(idCol).as("id1") +: side2(idCol).as("id2") +:
        carry.flatMap(c => Seq(side1(c).as(s"${c}1"), side2(c).as(s"${c}2")))
    if (maxW <= maxBucket) {
      df.as("a").join(df.as("b"),
          sameKeys && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(outCols(c => col(s"a.$c"), c => col(s"b.$c")): _*)
        .distinct()
    } else {
      val grouped = df.join(widths, keyCols)
        .withColumn("__bb_g",
          expr(s"(__bb_w + ${maxBucket - 1}) div $maxBucket"))
        .withColumn("__bb_p", pmod(xxhash64(col(idCol)), $"__bb_g"))
      // a row serves as the FIRST element of group pairs (p, q≥p) and
      // as the SECOND of (o≤p, p); joining (p, q) against (o, p') with
      // p = o and q = p' enumerates each unordered group pair once
      val lhs = grouped.withColumn("__bb_q",
        explode(sequence($"__bb_p", $"__bb_g" - 1)))
      val rhs = grouped.withColumn("__bb_o",
        explode(sequence(lit(0L), $"__bb_p")))
      // cross-group pairs arrive in either id order: pack each side
      // (id + carries) as a struct and swap the STRUCTS, so carried
      // values stay glued to their id through the reorder
      val aS = struct((idCol +: carry).map(c => col(s"a.$c")): _*)
      val bS = struct((idCol +: carry).map(c => col(s"b.$c")): _*)
      val aFirst = col(s"a.$idCol") < col(s"b.$idCol")
      lhs.as("a").join(rhs.as("b"),
          sameKeys &&
          $"a.__bb_p" === $"b.__bb_o" && $"a.__bb_q" === $"b.__bb_p" &&
          // same-group pairs dedupe by id order; cross-group pairs are
          // unique per construction but arrive in either id order
          ($"a.__bb_p" =!= $"b.__bb_p" || col(s"a.$idCol") < col(s"b.$idCol")))
        .select(when(aFirst, aS).otherwise(bS).as("__bb_1"),
          when(aFirst, bS).otherwise(aS).as("__bb_2"))
        .distinct()
        .select(outCols(c => col(s"__bb_1.$c"), c => col(s"__bb_2.$c")): _*)
    }
  }

  /** (doc_id, band, band_key) over a fps frame — the 16 minhash
    * permutations in ONE groupBy, band keys by projection. Shared by
    * the self-join pair plan ([[minhashLshPairs]]) and the
    * batch-vs-state incremental path
    * ([[nearIncrementalAgainstState]]), so both sides of a persisted
    * band-key state agree on the banding byte for byte. The signature
    * frame is checkpointed (one small row per doc; the band join's
    * sides must not each re-run the explode+agg) — which also makes
    * EVERY call run the signature job, so per-batch callers compute
    * one band frame and pass it to each consumer. */
  private[graft] def bandFrame(
      docs: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame =
    bandFrameWithBound(docs, nBands, rowsPerBand)._1

  /** [[bandFrame]] plus an upper bound on the widest (band, band_key)
    * bucket, folded into the signature frame's own pin job (r17,
    * verdict item 6 — the bound lets [[minhashLshPairs]] skip the
    * width-probe job over the banded frame). The Scala key below
    * mirrors the `concat_ws("_", m…)` band-key projection exactly:
    * minhash values are non-null longs (min over a non-empty group of
    * non-null arithmetic), and Spark renders a long into a string as
    * `Long.toString`. */
  private[graft] def bandFrameWithBound(
      docs: DataFrame, nBands: Int, rowsPerBand: Int): (DataFrame, Long) = {
    val s = docs.sparkSession
    import s.implicits._
    require(nBands * rowsPerBand <= 16, "only 16 minhash permutations exist")
    val sh = docs.select($"doc_id", explode($"fps").as("fp"))
    val aggs = (0 until 16).map(i =>
      min(((lit(2L * i + 1)) * ($"fp" % Mod) + lit(7919L * i + 12345)) % Mod).as(s"m$i"))
    val sigsPlan = sh.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
    val mIdx = (0 until 16).map(i => sigsPlan.schema.fieldIndex(s"m$i")).toArray
    val (sigs16, bound) = org.apache.spark.sql.graftshim.Shim
      .pinWithWidthBound(sigsPlan, { r =>
        (0 until nBands).iterator.map { b =>
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < rowsPerBand) {
            if (i > 0) sb.append('_')
            sb.append(r.getLong(mIdx(b * rowsPerBand + i)))
            i += 1
          }
          (b, sb.toString)
        }
      })
    val bandKeys = (0 until nBands).map(b =>
      concat_ws("_", (0 until rowsPerBand).map(i =>
        col(s"m${b * rowsPerBand + i}")): _*))
    (sigs16.select($"doc_id",
      posexplode(array(bandKeys: _*)).as(Seq("band", "band_key"))), bound)
  }

  /** The banded MinHash-LSH pair plan over a [[shingleFps]] frame:
    * 16 minhashes in ONE groupBy (signatures permute fp % Mod — which
    * IS rolling_hash(sh, 31), so minhash values are unchanged by the
    * wider fingerprint, and the pre-mod keeps (2i+1)*fp inside Long
    * under ANSI), band keys built by projection (no second agg),
    * equality self-join on (band, key), then exact fingerprint-set
    * Jaccard verification at `tau`. Checkpoints keep each stage's
    * input computed once. `prebuiltBands` lets a caller that already
    * ran [[bandFrame]] over `docs` reuse it instead of paying the
    * signature job twice. Returns (doc1, doc2, jaccard), unordered. */
  private def minhashLshPairs(
      s: SparkSession,
      docs: DataFrame,
      nBands: Int,
      rowsPerBand: Int,
      tau: Double,
      keepCand: Option[(Column, Column) => Column] = None,
      prebuiltBands: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val (bands, widthBound) = prebuiltBands match {
      case Some(b) => (b, None) // caller-built bands: probe as before
      case None =>
        val (bf, w) = bandFrameWithBound(docs, nBands, rowsPerBand)
        (bf, Some(w))
    }
    // skew-bounded band join: plain equality self-join until a bucket
    // exceeds the cap, then intra-bucket block-pair scheduling
    val candAll = boundedBucketPairs(bands, "doc_id", Seq("band", "band_key"),
        widthBound = widthBound)
      .select($"id1".as("doc1"), $"id2".as("doc2"))
    // `keepCand` prunes candidate pairs BEFORE the exact-Jaccard
    // verify — the verify (fingerprint-array intersection) dominates
    // the pipeline, so a caller that only consumes a subset of pairs
    // (e.g. incremental dedup discarding state-state pairs) must not
    // pay for the rest
    val cand = keepCand.fold(candAll)(f => candAll.filter(f($"doc1", $"doc2")))
    val sets = docs.select($"doc_id", $"fps")
    cand
      .join(sets.select($"doc_id".as("doc1"), $"fps".as("f1")), Seq("doc1"))
      .join(sets.select($"doc_id".as("doc2"), $"fps".as("f2")), Seq("doc2"))
      .withColumn("inter", size(array_intersect($"f1", $"f2")))
      .withColumn("jaccard",
        $"inter".cast(DoubleType) /
          (size($"f1") + size($"f2") - $"inter").cast(DoubleType))
      .filter($"jaccard" >= tau)
      .select($"doc1", $"doc2", $"jaccard")
  }

  /** EXACT Jaccard-≥-tau pairs over a [[shingleFps]] frame, computed
    * sub-quadratically: intersection counts come from an equality join
    * on the shingle fingerprint (same trick as the DuckDB oracle), so
    * this is usable as in-engine ground truth for recall evaluation. */
  private def exactJaccardPairs(s: SparkSession, docs: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    val f = docs.select($"doc_id", explode($"fps").as("fp"))
    val sizes = docs.select($"doc_id", size($"fps").as("n"))
    val inter = f.as("a")
      .join(f.as("b"), $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select($"doc_id".as("doc1"), $"n".as("n1")), Seq("doc1"))
      .join(sizes.select($"doc_id".as("doc2"), $"n".as("n2")), Seq("doc2"))
      .withColumn("jaccard",
        $"i".cast(DoubleType) / ($"n1" + $"n2" - $"i").cast(DoubleType))
      .filter($"jaccard" >= tau)
      .select($"doc1", $"doc2")
  }

  private def materialized(df: DataFrame): DataFrame =
    graft.functions.TextTokens.materialized(df)

  /** 60-bit SimHash as a single aggregation: each bit's vote is its own
    * sum-aggregate over the grouped token fingerprints (`fp` column),
    * and the sketch is assembled in the projection — one shuffle of one
    * row per group, map-side combined. */
  private def simhashOf(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = {
    val votes = (0 until 60).map(b =>
      sum(when(expr(s"(fp >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    grouped.agg(votes.head, votes.tail: _*)
      .withColumn("simhash",
        (0 until 60).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _))
  }

  /** (doc_id, lang, simhash): the shared sketch input of both SimHash
    * pair queries — computed by the native codegen'd
    * [[graft.functions.SimHash.simhash60]] expression as a MAP-ONLY
    * projection: no token explode (~300 rows per doc), no 60-buffer
    * aggregate, no shuffle. Bit-identical to `dedup_simhash`'s
    * explode+aggregate formulation (FunctionsSpec's native-vs-aggregate
    * equality test pins it; the shared pair-oracle SQL re-proves it
    * against DuckDB every round).
    * Empty-token docs are dropped, as explode's zero rows would have.
    * The result is locally checkpointed: every consumer SELF-JOINS it,
    * and two uses of one plan inline the scan subtree twice (Catalyst
    * reuses exchanges only for identical exchange subtrees, which the
    * `a`/`b` alias resolution breaks) — the checkpoint makes the
    * corpus scan run exactly once, and the sketch itself is one small
    * row per document. */
  /** Segment widths/offsets of the 9-way 60-bit pigeonhole banding —
    * single source for [[bandedSimhashPairs]]'s SQL segments and the
    * width-bound fold in [[simhashByLang]]'s pin job. */
  private val SimhashSegWidths = Seq(7, 7, 7, 7, 7, 7, 6, 6, 6)
  private val SimhashSegOffsets = SimhashSegWidths.scanLeft(0)(_ + _).dropRight(1)

  /** Pinned (doc_id, lang, simhash) sketch frame, plus an upper bound
    * on the widest (lang, band, seg) bucket of the pigeonhole banding —
    * the bound rides the pin's own materialization job
    * ([[org.apache.spark.sql.graftshim.Shim.pinWithWidthBound]]; the
    * Scala shift/mask below mirrors the banding projection exactly:
    * simhash is a non-negative 60-bit long, so `>>` == `>>>`), letting
    * [[bandedSimhashPairs]] skip its per-query width-probe job in the
    * no-hot-bucket common case. */
  private def simhashByLang(s: SparkSession, d: String): (DataFrame, Long) = {
    val sketch = docsWithTokens(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.SimHash.simhash60(col("tokens")).as("simhash"))
      .filter(col("simhash").isNotNull)
    val langIdx = sketch.schema.fieldIndex("lang")
    val simIdx = sketch.schema.fieldIndex("simhash")
    val segs = SimhashSegWidths.zip(SimhashSegOffsets).zipWithIndex
      .map { case ((w, off), i) => (i, off, (1L << w) - 1) }.toArray
    org.apache.spark.sql.graftshim.Shim.pinWithWidthBound(sketch, { r =>
      // null keys never survive an equi-join (IsNotNull is inferred on
      // both sides), so they belong to no bucket; simhash is filtered
      // non-null above, the lang check is defensive
      if (r.isNullAt(langIdx)) Iterator.empty
      else {
        val lang = r.getUTF8String(langIdx).toString
        val sim = r.getLong(simIdx)
        segs.iterator.map { case (band, off, mask) =>
          (lang, band, (sim >> off) & mask)
        }
      }
    })
  }

  /** The banded (pigeonhole) SimHash pair plan, shared by
    * `dedup_simhash_pairs_banded` and the clustering pipeline:
    * hamming ≤ 8 over 60 bits ⇒ at least one of 9 disjoint segments is
    * IDENTICAL, so candidates come from an equality join on
    * (lang, segment-index, segment-value) and the full sketch verifies
    * the true distance. Returns (doc1, doc2, lang, hamming), unordered. */
  private[operators] def bandedSimhashPairs(
      s: SparkSession, d: String, maxBucket: Long = 4096L): DataFrame = {
    val (sim, widthBound) = simhashByLang(s, d)
    val segs = SimhashSegWidths.zip(SimhashSegOffsets).zipWithIndex
      .map { case ((w, off), i) =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
            .as("seg"))
      }
    val bands = sim
      .select(col("doc_id"), col("lang"), col("simhash"),
        explode(array(segs: _*)).as("bs"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("bs.band").as("band"), col("bs.seg").as("seg"))
    // skew-bounded candidates; the full sketches ride THROUGH the pair
    // primitive (carry), so verification is a projection on the pair
    // set — no re-join against the sketch table
    boundedBucketPairs(bands, "doc_id", Seq("lang", "band", "seg"),
        maxBucket = maxBucket, carry = Seq("lang", "simhash"),
        widthBound = Some(widthBound))
      .withColumn("hamming",
        bit_count(col("simhash1").bitwiseXOR(col("simhash2"))))
      .filter(col("hamming") <= 8)
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        col("lang1").as("lang"), col("hamming").cast(LongType).as("hamming"))
  }

  /** Connected-component labels (min doc_id per component) over a
    * CHECKPOINTED near-dup pair frame; one (doc_id, cluster) row per
    * connected vertex (callers append singletons themselves).
    *
    * Adaptive execution, the same move as Spark's broadcast-join
    * threshold: verified near-dup edges are a small fraction of any
    * corpus (the pair set is the OUTPUT of dedup detection, not the
    * corpus), so when it fits one task comfortably
    * (≤ `localEdgeThreshold` edges; the count is free on a
    * checkpointed frame) a path-compressed union-find labels the
    * whole graph in a single job — no per-iteration shuffle barriers,
    * no convergence loop. Larger graphs take the distributed
    * min-label-propagation + pointer-jumping loop: per iteration one
    * equality join + groupBy, executor-side only, with the driver
    * reading a scalar change-count; rounds are O(log diameter) thanks
    * to the pointer-jump, and `localCheckpoint` keeps plans
    * constant-size. DedupSpec proves the two paths emit identical
    * labels on the fixture graph.
    */
  /** Connected-component labels by alternating large-star/small-star
    * (Kiveris et al., SoCC 2014) — the third labeling algorithm (see
    * `dedup_cc_star`). Converges to stars rooted at each component's
    * minimum id in O(log²) rounds regardless of component DIAMETER;
    * returns (doc_id, cluster) for every non-isolated vertex, exactly
    * [[componentLabels]]'s contract. */
  private[operators] def starComponentLabels(
      s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    var edges = pairs.select(col("doc1").as("a"), col("doc2").as("b"))
      .filter($"a" =!= $"b").distinct().pin()
    def sym(e: DataFrame) =
      e.select($"a".as("u"), $"b".as("v"))
        .unionByName(e.select($"b".as("u"), $"a".as("v")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < 30) {
      // large-star: every v > u attaches to min(N(u) ∪ {u})
      val s1 = sym(edges)
      val m1 = s1.groupBy($"u").agg(min(least($"v", $"u")).as("m"))
      val ls = s1.join(m1, Seq("u")).filter($"v" > $"u")
        .select($"v".as("a"), $"m".as("b"))
        .filter($"a" =!= $"b").distinct().pin()
      // small-star: every v ≤ u (and u itself) attaches to the
      // minimum of that closed ≤-neighborhood
      val s2 = sym(ls).filter($"v" <= $"u")
        .unionByName(sym(ls).select($"u", $"u".as("v")).distinct())
      val m2 = s2.groupBy($"u").agg(min($"v").as("m"))
      val ss = s2.join(m2, Seq("u")).filter($"v" =!= $"m")
        .select($"v".as("a"), $"m".as("b")).distinct()
        .pin()
      changed = ss.join(edges, Seq("a", "b"), "left_anti").count() +
        edges.join(ss, Seq("a", "b"), "left_anti").count()
      edges = ss
      iter += 1
    }
    // stars: every vertex's component is the min of its closed
    // neighborhood (the root labels itself)
    sym(edges)
      .groupBy($"u").agg(min(least($"v", $"u")).as("cluster"))
      .select($"u".as("doc_id"), $"cluster")
  }

  private[graft] def componentLabels(
      s: SparkSession,
      pairs: DataFrame,
      localEdgeThreshold: Long = 2000000L): DataFrame = {
    import s.implicits._
    val nEdges = pairs.count()
    if (nEdges <= localEdgeThreshold) {
      pairs.select(col("doc1"), col("doc2")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x // path compression
            while (parent.getOrElse(c, c) != r) {
              val n = parent.getOrElse(c, c); parent(c) = r; c = n
            }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            // min root wins, so every component's root IS its min id
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          val verts = parent.keys.toArray
          verts.iterator.map(v => (v, find(v)))
        }
        .toDF("doc_id", "cluster")
        // two consumers downstream (singleton anti-join + the union):
        // pin the one-task result so the union-find runs once
        .pin()
    } else {
      val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
        .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
        .pin()
      // Propagate over CONNECTED vertices only: a doc with no near-dup
      // pair can never change its label, yet at corpus scale isolated
      // docs are the overwhelming majority (duplicate rates are a
      // small fraction of 100 TB) — carrying them through every
      // iteration would multiply each loop shuffle by 1/dup-rate.
      val verts = edges.select($"src".as("doc_id")).distinct()
        .pin()
      var labels = verts
        .select($"doc_id", $"doc_id".as("cluster"))
        .pin()
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 25) {
        // one neighbor-min step...
        val nmin = edges
          .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy($"dst".as("doc_id")).agg(min($"cluster").as("nc"))
        val stepped = labels.join(nmin, Seq("doc_id"), "left_outer")
          .select($"doc_id", $"cluster".as("old"),
            least($"cluster", coalesce($"nc", $"cluster")).as("mid"))
        // ...then pointer-jump (label := label's label): path
        // compression turns O(diameter) rounds into O(log diameter)
        val reps = labels
          .select($"doc_id".as("mid"), $"cluster".as("rep"))
        val updated = stepped.join(reps, Seq("mid"), "left_outer")
          .select($"doc_id", $"old",
            least($"mid", coalesce($"rep", $"mid")).as("cluster"))
          .pin()
        changed = updated.filter($"cluster" =!= $"old").count()
        labels = updated.select($"doc_id", $"cluster")
        iter += 1
      }
      // The iteration cap is a safety net, not an exit path: labels
      // still moving at the cap would silently return wrong clusters
      // (the oracle catches it at fixture scale but nothing would at
      // the 100 TB scale this targets), so fail loudly instead.
      require(changed == 0,
        s"dedup_clusters: min-label propagation not converged after $iter " +
          s"iterations ($changed labels still changing) — component " +
          "diameter exceeds the cap; raise the iteration bound")
      labels
    }
  }

  /** The near-dup component chain as shared oracle CTEs ending in
    * `comp` (doc_id, lbl = reachable labels) — single source for
    * `dedup_clusters`'s / `dedup_cc_star`'s labeling oracle and
    * `dedup_golden_record`'s survivorship oracle. */
  private lazy val clusterCtes: String = s"""
        toks AS (SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
        tok AS (SELECT doc_id, lang, unnest(tokens) AS t FROM toks),
        f AS (SELECT doc_id, lang,
                ${fpSql("t", P1)} + ${fpSql("t", P2)} * $Mod AS fp FROM tok),
        votes AS (
          SELECT doc_id, lang, b,
                 SUM(CASE WHEN (fp >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM f, range(60) t(b)
          GROUP BY doc_id, lang, b),
        sim AS (
          SELECT doc_id, lang,
                 SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
          FROM votes GROUP BY doc_id, lang),
        pairs AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2
          FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 8),
        edges AS (
          SELECT doc1 AS src, doc2 AS dst FROM pairs
          UNION ALL
          SELECT doc2, doc1 FROM pairs),
        comp(doc_id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, c.lbl FROM comp c JOIN edges e ON c.doc_id = e.src)"""

  /** Recursive-CTE oracle for `dedup_clusters`: component id = min
    * doc_id reachable over the verified near-dup pair graph. */
  private lazy val clustersSql: String = s"""
        WITH RECURSIVE
        $clusterCtes
        SELECT doc_id, MIN(lbl) AS cluster_id,
               (doc_id = MIN(lbl)) AS is_canonical
        FROM comp GROUP BY doc_id
        ORDER BY doc_id"""

  /** Shared oracle of `dedup_simhash_pairs` and its banded twin — the
    * banded plan must produce byte-identical rows, so passing the same
    * SQL for both IS the equality proof, checked per round by the
    * driver's DuckDB compare. */
  private lazy val simhashPairsSql: String = s"""
        WITH toks AS (SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
        tok AS (SELECT doc_id, lang, unnest(tokens) AS t FROM toks),
        f AS (SELECT doc_id, lang,
                ${fpSql("t", P1)} + ${fpSql("t", P2)} * $Mod AS fp FROM tok),
        votes AS (
          SELECT doc_id, lang, b,
                 SUM(CASE WHEN (fp >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM f, range(60) t(b)
          GROUP BY doc_id, lang, b),
        sim AS (
          SELECT doc_id, lang,
                 SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
          FROM votes GROUP BY doc_id, lang)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.lang AS lang,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        ORDER BY doc1, doc2"""

  /** Incremental exact dedup against a PERSISTENT bucketed hash state —
    * the shape `dedup_incremental` documents, proven here: `stateTable`
    * is a managed table bucketed (and sorted) by `body_sha256`
    * ([[Bucketing.writeBucketed]]), so the anti-join reads state
    * buckets co-located with the join and plans with NO exchange on
    * the state side — only the (much smaller) daily increment shuffles,
    * once, to align with the bucketing. At 100 TB of accumulated state
    * that asymmetry IS the operator: state is never re-shuffled, ever.
    *
    * `increment` must carry (doc_id, body_sha256). Survivors are
    * increment docs whose hash is absent from state AND first of their
    * hash within the increment (the anti-join output is already
    * partitioned by hash, so the keep-min window adds no exchange
    * either — BucketingSpec asserts exactly one exchange in the whole
    * plan). State update = append survivors' hashes as the next state
    * generation (the [[FsSwap]] pattern of the ingest store). */
  def incrementalAgainstState(
      spark: SparkSession,
      increment: DataFrame,
      stateTable: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"body_sha256")
    increment
      .join(spark.table(stateTable), Seq("body_sha256"), "left_anti")
      .withColumn("keep", min($"doc_id").over(w))
      .filter($"doc_id" === $"keep")
      .select($"doc_id", $"body_sha256")
  }

  /** NEAR-dup increment against PERSISTED banded state — the
    * [[incrementalAgainstState]] asymmetry applied to the τ-Jaccard
    * near-dup job (the continuous form of `dedup_incremental_near`,
    * which derives its state in-query): the accumulated corpus lives
    * in two bucketed tables and NEVER shuffles —
    *
    *  - `bandsTable` (doc_id, band, band_key) bucketed by
    *    (band, band_key): the increment's bands equality-join it for
    *    candidates, increment side aligning with the bucketing;
    *  - `fpsTable` (doc_id, fps) bucketed by doc_id: candidate pairs
    *    fetch state fingerprints for the exact-Jaccard verify, again
    *    co-located on the state side.
    *
    * Survivors = increment docs with no τ-match in state and no
    * smaller-id τ-match within the increment (same greedy leader rule,
    * same [[bandFrame]] banding, same verify arithmetic as the batch
    * query — fps frames from either entry point verify identically).
    *
    * `incFps` must be a CHECKPOINTED (doc_id, fps) frame (see
    * [[fpsOf]]) — it feeds the banding, the verify, and the output,
    * and the caller usually also folds it into state afterwards, so
    * pinning belongs to the caller (one copy, every consumer).
    * `incBands` likewise lets the caller run the signature job once
    * and share the band frame between the state join, the in-batch
    * pair plan, and its own state fold. */
  private[graft] def nearIncrementalAgainstState(
      s: SparkSession,
      incFps: DataFrame,
      bandsTable: String,
      fpsTable: String,
      nBands: Int = 8,
      rowsPerBand: Int = 2,
      tau: Double = 0.9,
      incBands: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val inc = incFps
    val bands = incBands.getOrElse(bandFrame(inc, nBands, rowsPerBand))
    // candidates: increment bands against the bucketed band-key state —
    // zero exchange on the state scan (BucketingSpec plan-gates both
    // this shape and the full operator plan, the way it gates the
    // exact-dedup one)
    val candState = bands.as("i")
      .join(s.table(bandsTable).as("st"), Seq("band", "band_key"))
      .select($"i.doc_id".as("inc_id"), $"st.doc_id".as("state_id"))
      .distinct()
    val matchedByState = candState
      .join(inc.select($"doc_id".as("inc_id"), $"fps".as("f1")), Seq("inc_id"))
      .join(s.table(fpsTable).select($"doc_id".as("state_id"), $"fps".as("f2")),
        Seq("state_id"))
      .withColumn("inter", size(array_intersect($"f1", $"f2")))
      .withColumn("jaccard",
        $"inter".cast(DoubleType) /
          (size($"f1") + size($"f2") - $"inter").cast(DoubleType))
      .filter($"jaccard" >= tau)
      .select($"inc_id".as("doc_id"))
    // within-increment greedy leader: doc1 < doc2 makes doc1 the
    // leader side, so doc2 is blocked whatever doc1's own fate
    val blockedInBatch = minhashLshPairs(s, inc, nBands, rowsPerBand, tau,
        prebuiltBands = Some(bands))
      .select($"doc2".as("doc_id"))
    inc.select($"doc_id")
      .join(matchedByState.union(blockedInBatch).distinct(),
        Seq("doc_id"), "left_anti")
  }

  /** Prefix postings under the FIXED canonical token order (ascending
    * fingerprint) — the streaming-safe variant of the batch query's
    * rarest-first order: an incremental AllPairs join must rank every
    * document's tokens by the SAME total order in every batch, and
    * document frequencies drift as the corpus accumulates, so the
    * stream pins the order to the fp value itself. The documented
    * tradeoff: prefix-filter (and positional-filter) LOSSLESSNESS only
    * needs a consistent total order — rarest-first is the batch side's
    * performance heuristic, unavailable without frequency drift.
    * Emits (doc_id, n, r, fp): r the 1-based rank, kept while
    * r ≤ n − ⌈n/2⌉ + 1 (τ = 1/2, integer-exact). */
  private[graft] def fixedOrderPrefix(incFps: DataFrame): DataFrame = {
    val s = incFps.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"fp")
    incFps
      .filter(size($"fps") > 0)
      .withColumn("n", size($"fps").cast(LongType))
      .select($"doc_id", $"n", explode($"fps").as("fp"))
      .withColumn("r", row_number().over(w).cast(LongType))
      .filter($"r" <= expr("n - (n + 1) div 2 + 1"))
      .select($"doc_id", $"n", $"r", $"fp")
  }

  /** Incremental AllPairs/PPJoin against PERSISTED posting state — the
    * [[incrementalAgainstState]] asymmetry applied to the EXACT
    * τ = 1/2 set-similarity JOIN (the continuous form of
    * `dedup_prefix_filter_join`): the accumulated corpus lives in two
    * bucketed tables and NEVER shuffles —
    *
    *  - `prefixTable` (doc_id, n, r, fp) bucketed by fp: the batch's
    *    prefix postings equality-join it for cross-batch candidates
    *    under the length AND positional filters, batch side aligning
    *    with the bucketing;
    *  - `fpsTable` (doc_id, fps) bucketed by doc_id: candidate pairs
    *    fetch state fingerprint sets for the exact-Jaccard verify,
    *    co-located on the state side.
    *
    * In-batch pairs come from the batch prefix frame's own self-join
    * under the SAME fixed order and filters, so a pair is found
    * whether its members arrive together or batches apart. Emits every
    * verified pair as (doc_a, doc_b, jaccard), doc_a < doc_b — a JOIN,
    * not a dedup: nothing is suppressed, the caller folds the whole
    * batch into state. `incPrefix` lets the caller run the prefix job
    * once and share it with its own state fold. */
  private[graft] def prefixIncrementalAgainstState(
      s: SparkSession,
      incFps: DataFrame,
      prefixTable: String,
      fpsTable: String,
      incPrefix: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val inc = incFps.filter(size($"fps") > 0)
    val pref = incPrefix.getOrElse(fixedOrderPrefix(inc))
    // the PPJoin bounds, shared by both candidate branches: length
    // filter τ·max ≤ min and positional remaining-overlap bound
    // (see prefixFilterCandidates for the losslessness argument —
    // it only requires the shared total order, which fp-order is)
    def lenOk(an: Column, bn: Column): Column =
      an <= bn * 2 && bn <= an * 2
    def posOk(an: Column, ar: Column, bn: Column, br: Column): Column =
      (least(an - ar, bn - br) + 1) * 3 >= an + bn
    def verify(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
      cand
        .join(left, Seq("id1"))
        .join(right, Seq("id2"))
        .withColumn("inter",
          size(array_intersect($"f1", $"f2")).cast(LongType))
        .filter($"inter" * 3 >=
          (size($"f1") + size($"f2")).cast(LongType)) // J ≥ 1/2, exact
        .select(least($"id1", $"id2").as("doc_a"),
          greatest($"id1", $"id2").as("doc_b"),
          ($"inter".cast(DoubleType) /
            ((size($"f1") + size($"f2")).cast(LongType) - $"inter")
              .cast(DoubleType)).as("jaccard"))
    // cross-batch: batch prefixes meet the fp-bucketed state ON its
    // bucketing — zero exchange on the state scan (BucketingSpec gate)
    // the doc-id inequality guard makes at-least-once replay safe: if
    // this batch was already folded into state, a document meets its
    // own persisted copy here — without the guard that emits a
    // degenerate (A, A, 1.0) pair violating the doc_a < doc_b contract
    val candState = pref.as("i")
      .join(s.table(prefixTable).as("st"), $"i.fp" === $"st.fp" &&
        $"i.doc_id" =!= $"st.doc_id" &&
        lenOk($"i.n", $"st.n") &&
        posOk($"i.n", $"i.r", $"st.n", $"st.r"))
      .select($"i.doc_id".as("id1"), $"st.doc_id".as("id2"))
      .distinct()
    val verifiedState = verify(candState,
      inc.select($"doc_id".as("id1"), $"fps".as("f1")),
      s.table(fpsTable).select($"doc_id".as("id2"), $"fps".as("f2")))
    // in-batch: the batch prefix frame against itself
    val candBatch = pref.as("a")
      .join(pref.as("b"), $"a.fp" === $"b.fp" &&
        $"a.doc_id" < $"b.doc_id" &&
        lenOk($"a.n", $"b.n") &&
        posOk($"a.n", $"a.r", $"b.n", $"b.r"))
      .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"))
      .distinct()
    val verifiedBatch = verify(candBatch,
      inc.select($"doc_id".as("id1"), $"fps".as("f1")),
      inc.select($"doc_id".as("id2"), $"fps".as("f2")))
    // exactly-once per pair: in a clean run the two branches are
    // disjoint (a state pair's partner is not in the batch), but an
    // at-least-once REPLAY puts both members in batch AND state, so
    // the state branch finds the pair in both orientations and the
    // batch branch a third time — all canonicalized to the same
    // (doc_a, doc_b) by the verify projection. The distinct collapses
    // them so additive downstream folds see each pair once; it
    // shuffles only the VERIFIED near-dup pairs, not candidates
    verifiedState.unionByName(verifiedBatch).distinct()
  }

  override val queries: Map[String, QueryDef] = Map(

    // ── exact dedup: group identical bodies by sha-256 ──
    "dedup_exact" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy(sha2($"text", 256).as("body_sha256"))
          .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
          .orderBy($"body_sha256")
      },
      oracle = Some("""
        SELECT sha256(text) AS body_sha256,
               MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
        ORDER BY body_sha256""")),

    // ── INCREMENTAL exact dedup: a new batch against accumulated state ──
    // The bucketed-state production path (zero state shuffle) is
    // [[incrementalAgainstState]]; this query is its parquet-direct
    // twin, value-checked against DuckDB (BucketingSpec proves the two
    // produce identical rows and that the bucketed plan has no
    // exchange on the state side).
    // The operational mode a 100 TB pipeline actually runs: dedup is not
    // one big batch but a daily increment anti-joined against the hash
    // state of everything already ingested. Here the "state" is the
    // deterministic 3/4 of the corpus (doc_id % 4 < 3) and the
    // "increment" the remaining 1/4: survivors are increment docs whose
    // content hash is (a) absent from state — a hash-EQUALITY anti-join,
    // which at scale runs against a state table bucketed by hash so
    // increments co-locate with zero state shuffle — and (b) first of
    // their hash WITHIN the increment (window min, only over new-batch
    // collisions). State update is the union of state hashes and
    // survivor hashes — same parquet-generation pattern as
    // ingest/Monitor's file-metadata store.
    "dedup_incremental" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val state = docs.filter($"doc_id" % 4 < 3)
          .select(sha2($"text", 256).as("body_sha256")).distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"body_sha256")
        docs.filter($"doc_id" % 4 >= 3)
          .select($"doc_id", sha2($"text", 256).as("body_sha256"))
          .join(state, Seq("body_sha256"), "left_anti")
          .withColumn("keep", min($"doc_id").over(w))
          .filter($"doc_id" === $"keep")
          .select($"doc_id", $"body_sha256")
          .orderBy($"doc_id")
      },
      oracle = Some("""
        WITH state AS (
          SELECT DISTINCT sha256(text) AS body_sha256
          FROM documents WHERE doc_id % 4 < 3),
        b AS (
          SELECT doc_id, sha256(text) AS body_sha256
          FROM documents WHERE doc_id % 4 >= 3),
        f AS (
          SELECT b.doc_id, b.body_sha256
          FROM b LEFT JOIN state s ON b.body_sha256 = s.body_sha256
          WHERE s.body_sha256 IS NULL),
        k AS (
          SELECT doc_id, body_sha256,
                 MIN(doc_id) OVER (PARTITION BY body_sha256) AS keep
          FROM f)
        SELECT doc_id, body_sha256
        FROM k WHERE doc_id = keep
        ORDER BY doc_id""")),

    // ── MinHash signatures: 16 permutations over shingle fingerprints ──
    // minhash_i = min over shingles of ((2i+1)*fp(s) + 7919i + 12345) mod p.
    // One shuffle: all 16 mins are column aggregates of a single groupBy
    // (map-side partial agg reduces shuffle volume to one row per doc),
    // then stack() unpivots to the (doc, perm, minhash) oracle shape.
    "dedup_minhash_sig" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val sh = materialized(docsWithTokens(s, d)
            .select($"doc_id", shinglesCol.as("shingles")))
          .select($"doc_id", explode($"shingles").as("shingle"))
          .withColumn("fp", rolling_hash($"shingle"))
        val aggs = (0 until 16).map(i =>
          min(((lit(2L * i + 1)) * $"fp" + lit(7919L * i + 12345)) % Mod).as(s"m$i"))
        val unpivot = (0 until 16).map(i => s"${i}L, m$i").mkString(", ")
        sh.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
          .select($"doc_id", expr(s"stack(16, $unpivot)").as(Seq("perm", "minhash")))
          .orderBy($"doc_id", $"perm")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT doc_id, ${fpSql("shingle", P1)} AS fp FROM sh)
        SELECT doc_id, perm,
               MIN(((2*perm + 1) * fp + 7919*perm + 12345) % $Mod) AS minhash
        FROM f, range(16) t(perm)
        GROUP BY doc_id, perm
        ORDER BY doc_id, perm""")),

    // ── MinHash-LSH near-dup pairs: band signatures → bucket join →
    //    exact Jaccard verification (the full shingle→minhash→band→
    //    bucket-join pipeline) ──
    // FULLY value-checked: the minhash permutations are the same
    // oracle-reproducible arithmetic dedup_minhash_sig already proves,
    // so DuckDB rebuilds the 4×4 band keys (string_agg of minhash
    // values in perm order = concat_ws), the band equality join, and
    // the exact-Jaccard verification at τ=0.2 — the entire LSH
    // candidate mechanism is hash-compared, not just its recall.
    "dedup_minhash_pairs" -> QueryDef(
      fn = (s, d) =>
        // 4 bands × 4 rows, candidates verified at the weak τ=0.2 —
        // the candidate-generation face (low theoretical recall at 0.2;
        // the duplicate-grade recall contract is dedup_ann_recall's row)
        minhashLshPairs(s, shingleFps(s, d), nBands = 4, rowsPerBand = 4,
          tau = 0.2)
          .orderBy(col("doc1"), col("doc2")),
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT DISTINCT doc_id,
                ${fpSql("shingle", P1)} + ${fpSql("shingle", P2)} * $Mod AS fp
              FROM sh),
        f1 AS (SELECT doc_id, fp % $Mod AS fp1 FROM f),
        sig AS (
          SELECT doc_id, perm,
                 MIN(((2*perm + 1) * fp1 + 7919*perm + 12345) % $Mod) AS minhash
          FROM f1, range(16) t(perm)
          GROUP BY doc_id, perm),
        bands AS (
          SELECT doc_id, perm // 4 AS band,
                 string_agg(minhash::VARCHAR, '_' ORDER BY perm) AS band_key
          FROM sig GROUP BY doc_id, perm // 4),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT c.doc1, c.doc2,
               CAST(x.i AS DOUBLE) / CAST(sa.n + sb.n - x.i AS DOUBLE) AS jaccard
        FROM cand c
        JOIN inter x ON x.doc1 = c.doc1 AND x.doc2 = c.doc2
        JOIN sizes sa ON sa.doc_id = c.doc1
        JOIN sizes sb ON sb.doc_id = c.doc2
        WHERE CAST(x.i AS DOUBLE) / CAST(sa.n + sb.n - x.i AS DOUBLE) >= 0.2
        ORDER BY 1, 2"""),
      headline = false),

    // ── MinHash-LSH at duplicate grade, fully oracle-checked ──
    // `dedup_minhash_pairs` verifies candidates at a weak τ=0.2, where
    // 4×4 banding has low theoretical recall (legitimate as a candidate
    // generator — its recall CONTRACT is dedup_ann_recall's row; its
    // VALUES are hash-checked above). At DUPLICATE grade
    // (τ=0.9) banding can be made essentially lossless: with 8 bands of
    // 2 rows a true j≥0.9 pair is missed with probability
    // (1-j²)⁸ ≤ 0.19⁸ ≈ 2e-6, so the verified output IS the exact
    // Jaccard-≥0.9 pair set and DuckDB can recompute it independently —
    // sub-quadratically on both sides: the oracle intersects shingle
    // sets by an equality join on the shingle fingerprint, never
    // all-pairs. This makes the whole shingle→minhash→band→bucket-join→
    // verify pipeline a hash-checked equality proof, not just a recall
    // gate.
    "dedup_minhash_verified" -> QueryDef(
      fn = (s, d) =>
        // 8 bands × 2 rows: near-certain recall at duplicate grade
        minhashLshPairs(s, shingleFps(s, d), nBands = 8, rowsPerBand = 2,
          tau = 0.9)
          .orderBy(col("doc1"), col("doc2")),
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT DISTINCT doc_id,
                ${fpSql("shingle", P1)} + ${fpSql("shingle", P2)} * $Mod AS fp
              FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc1, doc2,
               CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc1
        JOIN sizes sb ON sb.doc_id = doc2
        WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9
        ORDER BY doc1, doc2""")),

    // ── INCREMENTAL near-dup dedup: a new batch against the corpus ──
    // The nightly job a 100 TB pipeline actually runs for NEAR
    // duplicates (the exact-hash face is dedup_incremental): survivors
    // are increment docs (doc_id % 4 >= 3) with no duplicate-grade
    // (τ=0.9) match in the accumulated state (doc_id % 4 < 3) and no
    // match to a smaller-id increment doc — the deterministic greedy
    // leader rule. Candidates ride the essentially-lossless 8×2
    // banding (recall loss ≤2e-6 at τ=0.9, see dedup_minhash_verified),
    // so at scale the state side is the accumulated BAND-KEY table
    // bucketed by (band, band_key): increments co-locate exactly like
    // incrementalAgainstState's hash state, with zero state shuffle.
    "dedup_incremental_near" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = shingleFps(s, d)
        // duplicate-grade pairs over the corpus (doc1 < doc2) — but
        // state-state pairs can never block anything, so they're pruned
        // BEFORE the exact-Jaccard verify (with a 3:1 state:increment
        // split that drops ~9/16 of the verify work)
        val pairs = minhashLshPairs(s, docs, nBands = 8, rowsPerBand = 2,
          tau = 0.9,
          keepCand = Some((d1, d2) => d1 % 4 >= 3 || d2 % 4 >= 3))
          .select($"doc1", $"doc2").pin()
        val inc = docs.select($"doc_id").filter($"doc_id" % 4 >= 3)
        // an increment doc is blocked by ANY pair partner that is state,
        // or any smaller-id increment partner (doc1 < doc2 makes doc1
        // the leader side)
        val blocked = pairs.filter($"doc2" % 4 >= 3).select($"doc2".as("doc_id"))
          .union(pairs.filter($"doc1" % 4 >= 3 && $"doc2" % 4 < 3)
            .select($"doc1".as("doc_id")))
        inc.join(blocked, Seq("doc_id"), "left_anti")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT DISTINCT doc_id,
                ${fpSql("shingle", P1)} + ${fpSql("shingle", P2)} * $Mod AS fp
              FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (
          SELECT doc1, doc2
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc1
          JOIN sizes sb ON sb.doc_id = doc2
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
        inc AS (SELECT doc_id FROM documents WHERE doc_id % 4 >= 3),
        blocked AS (
          SELECT doc2 AS doc_id FROM p WHERE doc2 % 4 >= 3
          UNION
          SELECT doc1 FROM p WHERE doc1 % 4 >= 3 AND doc2 % 4 < 3)
        SELECT i.doc_id
        FROM inc i LEFT JOIN blocked b USING (doc_id)
        WHERE b.doc_id IS NULL
        ORDER BY i.doc_id"""),
      headline = true),

    // ── cross-source leakage: duplicate-grade pairs spanning sources ──
    // The train/test-contamination shape: near-identical documents that
    // live under DIFFERENT sources are the ones that silently leak eval
    // data into training mixes. Rides the duplicate-grade (τ=0.9,
    // essentially lossless 8×2 banding — see dedup_minhash_verified)
    // pair pipeline, then gates on source inequality; the source lookup
    // is a pruned two-column projection joined once per pair side.
    "dedup_cross_source" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // one pruned (doc_id, source) scan shared by both join sides
        val src = Tables.documents(s, d).select($"doc_id", $"source")
          .pin()
        minhashLshPairs(s, shingleFps(s, d), nBands = 8, rowsPerBand = 2,
            tau = 0.9)
          .join(src.select($"doc_id".as("doc1"), $"source".as("source1")), Seq("doc1"))
          .join(src.select($"doc_id".as("doc2"), $"source".as("source2")), Seq("doc2"))
          .filter($"source1" =!= $"source2")
          .select($"doc1", $"doc2", $"source1", $"source2", $"jaccard")
          .orderBy($"doc1", $"doc2")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT DISTINCT doc_id,
                ${fpSql("shingle", P1)} + ${fpSql("shingle", P2)} * $Mod AS fp
              FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (
          SELECT doc1, doc2,
                 CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc1
          JOIN sizes sb ON sb.doc_id = doc2
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9)
        SELECT p.doc1, p.doc2, a.source AS source1, b.source AS source2,
               p.jaccard
        FROM p
        JOIN documents a ON a.doc_id = p.doc1
        JOIN documents b ON b.doc_id = p.doc2
        WHERE a.source <> b.source
        ORDER BY p.doc1, p.doc2""")),

    // ── SimHash: 60-bit per-document sketch, bit-vote over token fps ──
    "dedup_simhash" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val tok = materialized(docsWithTokens(s, d).select($"doc_id", $"tokens"))
          .select($"doc_id", explode($"tokens").as("t"))
          .withColumn("fp", rolling_hash2($"t")) // fused h31 + h131*Mod
        // one shuffle: the 60 bit-votes are column aggregates of one
        // groupBy; the sketch is recombined in a projection
        simhashOf(tok.groupBy($"doc_id"))
          .select($"doc_id", $"simhash")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        tok AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
        f AS (SELECT doc_id,
                ${fpSql("t", P1)} + ${fpSql("t", P2)} * $Mod AS fp FROM tok),
        votes AS (
          SELECT doc_id, b, SUM(CASE WHEN (fp >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM f, range(60) t(b)
          GROUP BY doc_id, b)
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                 AS simhash
        FROM votes
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ── SimHash near-dup pairs: hamming distance within language ──
    // Quadratic within language — kept as the ORACLE FACE; the banded
    // variant below is the production plan and must emit identical rows.
    "dedup_simhash_pairs" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val sim = simhashByLang(s, d)._1 // quadratic face: bound unused
        sim.as("a").join(sim.as("b"),
            $"a.lang" === $"b.lang" && $"a.doc_id" < $"b.doc_id")
          .withColumn("hamming", bit_count($"a.simhash".bitwiseXOR($"b.simhash")))
          .filter($"hamming" <= 8)
          .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
            $"a.lang".as("lang"), $"hamming".cast(LongType).as("hamming"))
          .orderBy($"doc1", $"doc2")
      },
      oracle = Some(simhashPairsSql)),

    // ── SimHash pairs, pigeonhole-banded (the 100 TB plan) ──
    // Hamming ≤ 8 over 60 bits means at least one of 9 disjoint bit
    // segments is IDENTICAL (pigeonhole), so candidates come from an
    // equality join on (lang, segment-index, segment-value) — the same
    // shape as the MinHash band join, O(sum of bucket²) instead of the
    // per-language all-pairs — then the full sketch verifies the true
    // hamming distance. Same rows as dedup_simhash_pairs by
    // construction; the shared oracle SQL is the equality proof.
    "dedup_simhash_pairs_banded" -> QueryDef(
      fn = (s, d) => bandedSimhashPairs(s, d)
        .orderBy(col("doc1"), col("doc2")),
      oracle = Some(simhashPairsSql)),

    // ── near-dup CLUSTERS with canonical selection (the full dedup
    //    pipeline a training corpus actually runs) ──
    // sketch → banded candidates → verified pairs → connected
    // components ([[componentLabels]]: size-gated single-task
    // union-find for small edge sets, distributed min-label
    // propagation + pointer jumping beyond the threshold) → keep the
    // min-id doc per component.
    // Oracle: DuckDB recursive CTE computing min reachable id.
    "dedup_clusters" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // checkpoint BEFORE the union: its two branches would otherwise
        // each inline (and re-run) the whole banded-pair pipeline
        val pairs = bandedSimhashPairs(s, d).select($"doc1", $"doc2")
          .pin()
        val labels = componentLabels(s, pairs)
        val isolated = Tables.documents(s, d).select($"doc_id")
          .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
          .select($"doc_id", $"doc_id".as("cluster"))
        labels.union(isolated)
          .select($"doc_id", $"cluster".as("cluster_id"),
            ($"doc_id" === $"cluster").as("is_canonical"))
          .orderBy($"doc_id")
      },
      oracle = Some(clustersSql),
      headline = true),

    // ── connected components via alternating large-star/small-star ──
    // A THIRD component algorithm (after dedup_clusters' size-gated
    // union-find and connected-vertex label propagation), sharing
    // dedup_clusters' oracle — so all three are proven equal by hash
    // every round. This is the Kiveris et al. (SoCC 2014) "Connected
    // Components in MapReduce" scheme production graph stacks ship:
    // LARGE-STAR rewires every neighbor v > u onto u's neighborhood
    // minimum, SMALL-STAR rewires the ≤ u neighbors; alternating the
    // two converges in O(log²) rounds to a forest of stars rooted at
    // each component's minimum id — no per-vertex iteration count
    // proportional to component DIAMETER (label propagation's cost on
    // path-shaped components) and no single-task fallback. Each round
    // is two groupBy-min aggregates + equality joins on node id; the
    // convergence check is two anti-join counts on the (tiny relative
    // to corpus) edge set — the standard driver-side fixpoint test.
    "dedup_cc_star" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val pairs = bandedSimhashPairs(s, d).select($"doc1", $"doc2")
          .pin()
        val labels = starComponentLabels(s, pairs)
        val isolated = Tables.documents(s, d).select($"doc_id")
          .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
          .select($"doc_id", $"doc_id".as("cluster"))
        labels.union(isolated)
          .select($"doc_id", $"cluster".as("cluster_id"),
            ($"doc_id" === $"cluster").as("is_canonical"))
          .orderBy($"doc_id")
      },
      oracle = Some(clustersSql)),

    // ── LSH S-curve: the banding-config tuning artifact ──
    // The table an engineer consults BEFORE picking (bands, rows):
    // for banded LSH the pair-collision probability at similarity s
    // is p(s) = 1 − (1 − s^r)^b — this emits that curve for the
    // repo's operating configs (16×4, the embedding-ANN banding, and
    // 4×4, the MinHash banding) on a 5%-step similarity grid, plus
    // each config's steepness. All powers are EXPLICIT repeated
    // multiplication (s⁴ via two squarings, t¹⁶ via four) — never
    // pow(), whose libm rounding is not pinned across engines — so
    // every value is the same IEEE double on both sides, rounded to 9
    // at the boundary. Driver-trivial by nature (a 21×2-row
    // analytical table); it exists so the operating points the recall
    // gates measure empirically are documented against theory in a
    // hash-checked artifact.
    "dedup_lsh_s_curve" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val grid = s.range(0, 21).select(($"id" * 5).as("s_pct"),
          ($"id".cast(DoubleType) / 20).as("sim"))
        def curve(b: Int, r: Int): org.apache.spark.sql.Column = {
          // s^r by explicit squaring (r = 4 here), then (1-x)^b by
          // successive squarings (b = 4 or 16)
          val s2 = $"sim" * $"sim"
          val sr = s2 * s2 // r = 4
          val t = lit(1.0) - sr
          val t2 = t * t
          val t4 = t2 * t2
          val tb = if (b == 16) { val t8 = t4 * t4; t8 * t8 } else t4
          round(lit(1.0) - tb, 9)
        }
        grid.select($"s_pct", $"sim",
            curve(16, 4).as("p_collide_16x4"),
            curve(4, 4).as("p_collide_4x4"))
          .orderBy($"s_pct")
      },
      oracle = Some("""
        WITH g AS (
          SELECT i * 5 AS s_pct, CAST(i AS DOUBLE) / 20 AS sim
          FROM range(0, 21) t(i)),
        c AS (
          SELECT s_pct, sim,
                 (sim * sim) * (sim * sim) AS sr
          FROM g),
        t AS (
          SELECT s_pct, sim, 1.0 - sr AS t1 FROM c),
        p AS (
          SELECT s_pct, sim,
                 ((t1*t1)*(t1*t1)) * ((t1*t1)*(t1*t1))
                   * (((t1*t1)*(t1*t1)) * ((t1*t1)*(t1*t1))) AS t16,
                 (t1*t1)*(t1*t1) AS t4
          FROM t)
        SELECT s_pct, sim,
               round(1.0 - t16, 9) AS p_collide_16x4,
               round(1.0 - t4, 9) AS p_collide_4x4
        FROM p ORDER BY s_pct""")),

    // ── golden-record survivorship (the MDM merge step) ──
    // Clustering finds the duplicates; SOMETHING must then produce
    // the one record a downstream system keeps. This is the
    // field-level survivorship fold of master-data management: per
    // near-dup cluster (≥2 members — the same component labels the
    // clustering queries emit), majority vote on the categorical
    // fields (ties break to the lexicographically smallest value, so
    // the vote is deterministic), MAX on the size field, and the
    // longest-document rule (ties to the smallest id) for the body
    // survivor — each rule a plain AGGREGATE: majorities are
    // min(struct(-count, value)) over the per-value counts and the
    // survivor is min(struct(-n_chars, doc_id)), so no windows and
    // no per-cluster sort anywhere. Shares the component machinery
    // (and oracle CTEs) with dedup_clusters.
    "dedup_golden_record" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val pairs = bandedSimhashPairs(s, d).select($"doc1", $"doc2")
          .pin()
        val labels = componentLabels(s, pairs)
        val mem = labels.join(
            Tables.documents(s, d)
              .select($"doc_id", $"lang", $"source", $"n_chars"),
            Seq("doc_id"))
          .pin() // base + two majority aggregates
        val base = mem.groupBy($"cluster")
          .agg(count(lit(1)).as("n_members"),
            max($"n_chars").as("n_chars_max"),
            min(struct((-$"n_chars").as("negn"), $"doc_id".as("id")))
              .as("ld"))
        val langM = mem.groupBy($"cluster", $"lang")
          .agg(count(lit(1)).as("c"))
          .groupBy($"cluster")
          .agg(min(struct((-$"c").as("negc"), $"lang".as("v"))).as("lm"))
        val srcM = mem.groupBy($"cluster", $"source")
          .agg(count(lit(1)).as("c"))
          .groupBy($"cluster")
          .agg(min(struct((-$"c").as("negc"), $"source".as("v"))).as("sm"))
        base.join(langM, Seq("cluster")).join(srcM, Seq("cluster"))
          .filter($"n_members" >= 2)
          .select($"cluster".as("cluster_id"), $"n_members",
            $"lm.v".as("lang_golden"), $"sm.v".as("source_golden"),
            $"n_chars_max", $"ld.id".as("longest_doc"))
          .orderBy($"cluster_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE
        $clusterCtes,
        lab AS (
          SELECT doc_id, MIN(lbl) AS cluster_id FROM comp GROUP BY doc_id),
        mem AS (
          SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
          FROM lab l JOIN documents d USING (doc_id)),
        base AS (
          SELECT cluster_id, COUNT(*) AS n_members,
                 MAX(n_chars) AS n_chars_max
          FROM mem GROUP BY cluster_id),
        ld AS (
          SELECT cluster_id, doc_id AS longest_doc FROM (
            SELECT cluster_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id) AS rn
            FROM mem) x WHERE rn = 1),
        lm AS (
          SELECT cluster_id, lang AS lang_golden FROM (
            SELECT cluster_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY COUNT(*) DESC, lang) AS rn
            FROM mem GROUP BY cluster_id, lang) x WHERE rn = 1),
        sm AS (
          SELECT cluster_id, source AS source_golden FROM (
            SELECT cluster_id, source,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY COUNT(*) DESC, source) AS rn
            FROM mem GROUP BY cluster_id, source) x WHERE rn = 1)
        SELECT b.cluster_id, b.n_members, lm.lang_golden, sm.source_golden,
               b.n_chars_max, ld.longest_doc
        FROM base b
        JOIN lm USING (cluster_id)
        JOIN sm USING (cluster_id)
        JOIN ld USING (cluster_id)
        WHERE b.n_members >= 2
        ORDER BY cluster_id"""),
      headline = false),

    // ── exact word-shingle Jaccard pairs (ORACLE FACE: quadratic within
    //    the (lang, |Δn_chars| ≤ 50) block — the small-SF fixture; the
    //    fingerprint-banded twin below is the production plan and shares
    //    this oracle SQL as its per-round equality proof) ──
    "dedup_ngram_jaccard" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = materialized(docsWithTokens(s, d)
            .select($"doc_id", $"lang", $"n_chars", shinglesCol.as("sh")))
          .filter(size($"sh") > 0)
          .pin() // both self-join sides read it
        docs.as("a").join(docs.as("b"),
            $"a.lang" === $"b.lang" && $"a.doc_id" < $"b.doc_id" &&
            abs($"a.n_chars" - $"b.n_chars") <= 50)
          .withColumn("inter", size(array_intersect($"a.sh", $"b.sh")))
          .withColumn("jaccard",
            $"inter".cast(DoubleType) /
              (size($"a.sh") + size($"b.sh") - $"inter").cast(DoubleType))
          .filter($"jaccard" >= 0.05)
          .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"), $"jaccard")
          .orderBy($"doc1", $"doc2")
      },
      oracle = Some(ngramJaccardSql)),

    // ── word-shingle Jaccard, fingerprint-banded (the 100 TB plan) ──
    // Any pair with jaccard ≥ 0.05 shares at least one shingle, so the
    // EQUALITY join on shingle fingerprints (each shingle's posting
    // list, the [[exactJaccardPairs]] trick) restricted by the same
    // (lang, |Δn_chars| ≤ 50) block yields the intersection COUNT
    // directly — one groupBy over the join, no candidate distinct, no
    // array-carrying re-joins (measured 3.2 → ~1.5 s at sf0.1 vs the
    // re-verify formulation). Set sizes come from the distinct-fp
    // arrays, so jaccard equals string-set jaccard under the standard
    // ~2^60-fingerprint collision argument (the string-keyed shared
    // oracle would catch a fixture collision as a hash mismatch — the
    // same contract dedup_minhash_verified's oracle already relies on).
    // O(sum of posting-list²), not O(block²): sub-quadratic whenever
    // shingles discriminate. Byte-identical rows to dedup_ngram_jaccard;
    // the shared oracle SQL is the equality proof.
    "dedup_ngram_jaccard_banded" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = materialized(docsWithTokens(s, d)
            .select($"doc_id", $"lang", $"n_chars", shinglesCol.as("sh")))
          .filter(size($"sh") > 0)
          .select($"doc_id", $"lang", $"n_chars",
            array_distinct(transform($"sh", x => rolling_hash2(x))).as("fps"))
          .pin() // posting explode + the two size joins
        val posts = docs.select($"doc_id", $"lang", $"n_chars",
          explode($"fps").as("fp"))
        val inter = posts.as("a").join(posts.as("b"),
            $"a.fp" === $"b.fp" && $"a.lang" === $"b.lang" &&
            $"a.doc_id" < $"b.doc_id" &&
            abs($"a.n_chars" - $"b.n_chars") <= 50)
          .groupBy($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
          .agg(count(lit(1)).as("inter"))
        val sizes = docs.select($"doc_id", size($"fps").as("n"))
        inter
          .join(sizes.select($"doc_id".as("doc1"), $"n".as("n1")), Seq("doc1"))
          .join(sizes.select($"doc_id".as("doc2"), $"n".as("n2")), Seq("doc2"))
          .withColumn("jaccard",
            $"inter".cast(DoubleType) /
              ($"n1" + $"n2" - $"inter").cast(DoubleType))
          .filter($"jaccard" >= 0.05)
          .select($"doc1", $"doc2", $"jaccard")
          .orderBy($"doc1", $"doc2")
      },
      oracle = Some(ngramJaccardSql),
      headline = true),

    // ── shingle CONTAINMENT: the asymmetric (quote/subset) detector ──
    // Symmetric Jaccard structurally MISSES the commonest real
    // duplication shape: a short document quoted whole inside a long
    // one scores |A|/|B| ≈ 0 Jaccard however exact the copy. Broder's
    // containment c(A,B) = |A∩B| / |A| is the directional fix; pairs
    // are ORIENTED (smaller shingle set ⊆ larger, doc_id tiebreak) so
    // each candidate is scored exactly once in the direction that
    // means something. Same lossless posting-join shape as the banded
    // Jaccard — containment ≥ 0.8 > 0 implies a shared shingle, the
    // fp-equality join's group count IS |A∩B| — but deliberately NO
    // |Δn_chars| size block: asymmetric sizes are the point. The
    // decision boundary is exact integers (10·inter ≥ 8·n_small);
    // the emitted ratio is round-9 per the house double idiom. At
    // 100 TB cost is O(Σ posting-list²) like every posting join here;
    // the fixture contains genuine full containments (c = 1.0 pairs
    // at sf0.01 that Jaccard scores ~0.5).
    "dedup_containment" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = materialized(docsWithTokens(s, d)
            .select($"doc_id", $"lang", shinglesCol.as("sh")))
          .filter(size($"sh") > 0)
          .select($"doc_id", $"lang",
            array_distinct(transform($"sh", x => rolling_hash2(x))).as("fps"))
          .pin() // the posting explode reads it twice
        val posts = docs.select($"doc_id", $"lang",
          size($"fps").cast(LongType).as("n"), explode($"fps").as("fp"))
        posts.as("a").join(posts.as("b"),
            $"a.fp" === $"b.fp" && $"a.lang" === $"b.lang" &&
            struct($"a.n", $"a.doc_id") < struct($"b.n", $"b.doc_id"))
          .groupBy($"a.doc_id".as("doc_small"), $"b.doc_id".as("doc_big"),
            $"a.n".as("n_small"), $"b.n".as("n_big"))
          .agg(count(lit(1)).as("inter"))
          .filter($"inter" * 10L >= $"n_small" * 8L)
          .select($"doc_small", $"doc_big", $"inter", $"n_small", $"n_big",
            round($"inter".cast(DoubleType) / $"n_small".cast(DoubleType), 9)
              .as("containment"))
          .orderBy($"doc_small", $"doc_big")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
        sh AS (
          SELECT doc_id, lang, $shinglesSql AS sh FROM toks),
        nz AS (SELECT * FROM sh WHERE len(sh) > 0),
        pairs AS (
          SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                 CAST(len(a.sh) AS BIGINT) AS n_small,
                 CAST(len(b.sh) AS BIGINT) AS n_big
          FROM nz a JOIN nz b
            ON a.lang = b.lang
           AND (len(a.sh) < len(b.sh)
                OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id)))
        SELECT doc_small, doc_big, inter, n_small, n_big,
               round(CAST(inter AS DOUBLE) / n_small, 9) AS containment
        FROM pairs
        WHERE inter * 10 >= n_small * 8
        ORDER BY doc_small, doc_big""")),

    // ── embedding-cosine near-duplicate pairs (ORACLE FACE: unblocked
    //    all-pairs — the small-SF fixture; the blocked twin below is the
    //    distributed plan and shares this oracle as its equality proof) ──
    "dedup_embedding_cosine" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", VectorFunctions.toDoubleArray($"embedding").as("emb"))
          .pin() // both self-join sides read it
        e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
          .withColumn("cos",
            round(VectorFunctions.cosine($"a.emb", $"b.emb"), 9))
          .filter($"cos" >= 0.35)
          .select($"a.vec_id".as("vec1"), $"b.vec_id".as("vec2"), $"cos")
          .orderBy($"vec1", $"vec2")
      },
      oracle = Some(embeddingCosineSql)),

    // ── exact embedding dedup, block-partitioned (the 100 TB plan for
    //    GUARANTEED recall) ──
    // Exact all-pairs cosine at a weak threshold (0.35 ⇒ θ≈70°) is
    // irreducibly O(n²) COMPUTE — no sub-quadratic blocking can keep
    // 100% recall at that angle (sign-LSH collision curves flatten;
    // norm/segment bounds don't discriminate on normalized data). What
    // CAN scale is the PLAN: partition vectors into B blocks, enumerate
    // the B(B+1)/2 unordered block pairs, and give each (bi,bj) task its
    // own bounded slice — O(n²/tasks) per executor, no broadcast of the
    // full table, no single cartesian partition, work spread evenly by
    // construction. This is the classic distributed all-pairs schedule;
    // it produces byte-identical rows to dedup_embedding_cosine (shared
    // oracle = per-round equality proof).
    "dedup_embedding_blocked" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // B scales with the cluster so the B(B+1)/2 block-pair tasks
        // keep every core busy (sqrt(2·parallelism) ⇒ ~parallelism
        // tasks); both sides are tagged with the composite (b1, b2) and
        // the join keys on BOTH, so the shuffle distributes over all
        // block pairs — keying on one block id alone would collapse the
        // join to B reduce partitions
        val nBlocks = math.max(8,
          math.ceil(math.sqrt(2.0 * s.sparkContext.defaultParallelism)).toInt)
        val e = Tables.embeddings(s, d)
          .select($"vec_id", VectorFunctions.toDoubleArray($"embedding").as("emb"))
          .withColumn("blk", pmod($"vec_id", lit(nBlocks)).cast(IntegerType))
          .pin() // left and right block sides both read it
        val blockPairs = (for { i <- 0 until nBlocks; j <- i until nBlocks }
          yield (i, j)).toDF("b1", "b2")
        val left = e.select($"blk".as("b1"), $"vec_id".as("vec_id_a"), $"emb".as("emb_a"))
          .join(broadcast(blockPairs), Seq("b1"))
        val right = e.select($"blk".as("b2"), $"vec_id".as("vec_id_b"), $"emb".as("emb_b"))
          .join(broadcast(blockPairs), Seq("b2"))
        left.join(right, Seq("b1", "b2"))
          // same-block pairs once via id order; cross-block rows are
          // already unique per unordered pair (sides fixed by block)
          .filter($"b1" =!= $"b2" || $"vec_id_a" < $"vec_id_b")
          .withColumn("cos",
            round(VectorFunctions.cosine($"emb_a", $"emb_b"), 9))
          .filter($"cos" >= 0.35)
          .select(
            least($"vec_id_a", $"vec_id_b").as("vec1"),
            greatest($"vec_id_a", $"vec_id_b").as("vec2"),
            $"cos")
          .orderBy($"vec1", $"vec2")
      },
      oracle = Some(embeddingCosineSql)),

    // ── ANN embedding dedup: multi-table sign-LSH banding (sub-quadratic) ──
    // The production shortcut for DUPLICATE-GRADE thresholds: L band
    // tables of b sign-bits each (independent deterministic hyperplane
    // families), candidates from equality joins on (band, bucket), then
    // exact cosine verification. Collision probability per band is
    // (1-θ/π)^b, so at near-dup angles (cos ≥ 0.9 ⇒ θ ≤ 26°) recall is
    // 1-(1-0.857^4)^16 ≈ 1-5e-6 — DedupSpec's planted-duplicate gate
    // asserts 100% there. At this fixture's weak 0.35 threshold the same
    // parameters recover ~90% of pairs at a fraction of the comparisons;
    // use dedup_embedding_blocked when guaranteed recall at weak
    // thresholds is required.
    // FULLY value-checked, the sim_ann_lsh pattern at 4× the width: all
    // 64 hyperplanes (16 bands × 4 bits) are splitmix64 literals in the
    // oracle SQL, so DuckDB rebuilds every band's bucket assignment,
    // the (band, bucket) candidate join, and the exact-cosine verify.
    "dedup_embedding_ann_pairs" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", VectorFunctions.toDoubleArray($"embedding").as("emb"))
          .pin() // band assignment + two verify joins read it
        embeddingAnnPairs(e, nBands = 16, bitsPerBand = 4, dim = 64,
          threshold = 0.35)
          .orderBy($"vec1", $"vec2")
      },
      oracle = Some(embeddingAnnPairsSql)),

    // ── SEMANTIC dedup (the SemDeDup shape): cluster, prune in-cluster ──
    // The modern corpus-dedup operator for meaning-level duplicates:
    // k-means the embeddings (the SAME oracle-unrolled IVF build as
    // sim_ann_ivf — deterministic seeds, 3 decimal-exact Lloyd rounds),
    // then find cosine near-dups ONLY within a cluster and keep one
    // exemplar per duplicate: a vector is pruned iff some same-cluster
    // partner with a smaller id matches at τ, and its reported leader
    // is the smallest such partner. Never all-pairs: the cells bound
    // WHAT compares (O(n²/k) instead of O(n²), k grows with the
    // corpus), and the per-cell block-pair schedule bounds WHERE it
    // runs (each (cell, b1, b2) task gets a bounded slice — the
    // dedup_embedding_blocked plan with the cell key prepended, so no
    // single task ever holds a whole cell's quadratic work).
    // FULLY value-checked: the oracle unrolls the k-means build
    // (shared ivfBuildCtes) AND the in-cluster prune, so cells,
    // pair set, leaders, and cosines are all engine-reproduced.
    "dedup_semantic" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val a = Similarity.ivfAssignedFor(s, d)
          .select($"vec_id", $"centroid_id", $"emb")
        val nBlocks = math.max(2, math.ceil(math.sqrt(
          2.0 * s.sparkContext.defaultParallelism / 8.0)).toInt)
        val e = a.withColumn("blk", pmod($"vec_id", lit(nBlocks)).cast(IntegerType))
        val blockPairs = (for { i <- 0 until nBlocks; j <- i until nBlocks }
          yield (i, j)).toDF("b1", "b2")
        val left = e.select($"centroid_id", $"blk".as("b1"),
          $"vec_id".as("va"), $"emb".as("ea"))
          .join(broadcast(blockPairs), Seq("b1"))
        val right = e.select($"centroid_id", $"blk".as("b2"),
          $"vec_id".as("vb"), $"emb".as("eb"))
          .join(broadcast(blockPairs), Seq("b2"))
        left.join(right, Seq("centroid_id", "b1", "b2"))
          .filter($"b1" =!= $"b2" || $"va" < $"vb")
          .withColumn("cos", round(VectorFunctions.cosine($"ea", $"eb"), 9))
          .filter($"cos" >= 0.35)
          .select($"centroid_id",
            least($"va", $"vb").as("pa"), greatest($"va", $"vb").as("pb"), $"cos")
          .groupBy($"pb", $"centroid_id")
          .agg(min($"pa").as("leader"), max($"cos").as("best_cos"))
          .select($"pb".as("vec_id"), $"centroid_id", $"leader", $"best_cos")
          .orderBy($"vec_id")
      },
      oracle = Some(semanticDedupSql)),

    // ── prototype pruning (the SSL-prototypes half of D4) ──
    // The complement of dedup_semantic: where SemDeDup drops vectors
    // that are near-duplicates of EACH OTHER, prototype pruning drops
    // the most PROTOTYPICAL members of each cluster — the points
    // closest to their own centroid carry the least marginal training
    // signal (Sorscher et al.'s self-supervised prototype metric; D4
    // chains both prunes). Per cluster: cosine to the final centroid,
    // rank desc (ties by vec_id), drop the top ceil(25%). Map-only up
    // to the rank: the 8-row centroid table broadcasts onto the
    // assignment scan, and the only shuffle is the per-cell rank —
    // bounded at O(n/k) rows per cell, and k grows with the corpus (a
    // deployment sizes k so cells fit an executor's sort buffer).
    // FULLY value-checked: the oracle unrolls the shared k-means build
    // (ivfBuildCtes) and re-ranks every cluster, so centroids, cosines,
    // ranks, and the keep/drop frontier are all engine-reproduced.
    "dedup_prototypes" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
        val (assigned, cents) = Similarity.ivfModelFor(s, d)
        assigned.join(broadcast(cents), Seq("centroid_id"))
          .withColumn("proto_cos",
            round(VectorFunctions.cosine($"emb", $"cemb"), 9))
          .withColumn("crank", row_number().over(
            w.partitionBy($"centroid_id")
              .orderBy($"proto_cos".desc, $"vec_id")).cast(LongType))
          .withColumn("cluster_n",
            count(lit(1)).over(w.partitionBy($"centroid_id")))
          .withColumn("keep", $"crank" > ceil(lit(0.25) * $"cluster_n"))
          .select($"vec_id", $"centroid_id", $"proto_cos", $"crank",
            $"cluster_n", $"keep")
          .orderBy($"vec_id")
      },
      oracle = Some(prototypesSql)),

    // ── dedup-index recall evaluation, oracle-checked ──
    // The two approximate dedup pipelines (dedup_minhash_pairs at its
    // weak τ, dedup_embedding_ann_pairs) are value-checked above; this
    // adds their RECALL quality contract as a hash-checked assertion, the
    // pattern of `sim_ann_recall`: in-engine ground truth (exact
    // Jaccard pairs via the sub-quadratic fp-equality join; exact
    // cosine pairs all-pairs at fixture scale), recall of each LSH
    // pipeline against it, floor asserted. DuckDB independently
    // recomputes the TRUE pair counts — a substantive oracle, not a
    // constant — and expects both floors met. Measured on the fixture:
    // MinHash-LSH finds 100% of duplicate-grade (j≥0.9) pairs (floor
    // 0.95); sign-LSH banding finds ~92% of cos≥0.35 pairs at a
    // fraction of the comparisons (floor 0.8).
    "dedup_ann_recall" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        def evalRecall(method: String, truth: DataFrame, found: DataFrame,
            floor: Double): DataFrame = {
          val keys = truth.columns.toSeq
          truth.join(found.withColumn("hit", lit(1)), keys, "left")
            .agg(
              count(lit(1)).as("n_true_pairs"),
              // empty truth is vacuously met (sum over zero rows is
              // NULL; without the guard the boolean would be NULL and
              // hash-mismatch the oracle's TRUE)
              (count(lit(1)) === 0 ||
                sum(coalesce($"hit", lit(0))).cast(DoubleType) /
                  count(lit(1)).cast(DoubleType) >= floor).as("recall_floor_met"))
            .select(lit(method).as("method"), $"n_true_pairs",
              $"recall_floor_met")
        }
        val docs = shingleFps(s, d)
        val mh = evalRecall("minhash_lsh",
          truth = exactJaccardPairs(s, docs, tau = 0.9),
          found = minhashLshPairs(s, docs, nBands = 4, rowsPerBand = 4,
            tau = 0.2).filter($"jaccard" >= 0.9).select($"doc1", $"doc2"),
          floor = 0.95)
        val e = Tables.embeddings(s, d)
          .select($"vec_id", VectorFunctions.toDoubleArray($"embedding").as("emb"))
          .pin() // truth self-join + 3 ANN consumers
        val truthEmb = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
          .withColumn("cos", round(VectorFunctions.cosine($"a.emb", $"b.emb"), 9))
          .filter($"cos" >= 0.35)
          .select($"a.vec_id".as("vec1"), $"b.vec_id".as("vec2"))
        val emb = evalRecall("embedding_lsh",
          truth = truthEmb,
          found = embeddingAnnPairs(e, nBands = 16, bitsPerBand = 4,
            dim = 64, threshold = 0.35).select($"vec1", $"vec2"),
          floor = 0.8)
        emb.unionAll(mh).orderBy($"method")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
        shg AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM toks),
        f AS (SELECT DISTINCT doc_id,
                ${fpSql("shingle", P1)} + ${fpSql("shingle", P2)} * $Mod AS fp
              FROM shg),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        mh AS (
          SELECT COUNT(*) AS n FROM inter
          JOIN sizes sa ON sa.doc_id = doc1
          JOIN sizes sb ON sb.doc_id = doc2
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        emb AS (
          SELECT COUNT(*) AS n
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE round(
              list_sum(list_transform(generate_series(1, len(a.emb)),
                i -> a.emb[i] * b.emb[i])) /
              (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
               sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 9) >= 0.35)
        SELECT 'embedding_lsh' AS method,
               (SELECT CAST(n AS BIGINT) FROM emb) AS n_true_pairs,
               TRUE AS recall_floor_met
        UNION ALL
        SELECT 'minhash_lsh',
               (SELECT CAST(n AS BIGINT) FROM mh),
               TRUE
        ORDER BY method""")),

    // ── content-defined chunking (CDC): storage-layer shared-bytes dedup ──
    // The rsync/restic/LLM-data-storage mechanism the token-window pack
    // (llm_repeated_spans) does not cover: chunk boundaries are placed
    // where a W=8-char rolling window's hash ≡ 0 mod 16 — a property of
    // the CONTENT, not the position — so an insertion anywhere shifts
    // only the one chunk it touches and every other chunk's bytes (and
    // fingerprint) survive verbatim, where fixed-offset blocks would
    // all shift. Each doc becomes variable-size chunks (expected ~16
    // chars); chunk fingerprints (the ~2^60 fused fp) group-count
    // DISTINCT docs, and a doc's shared-bytes fraction is the chars it
    // stores in chunks seen in ≥2 docs — the dedupable-storage measure.
    // Scale: the per-position hashing is the scan (the HOF lambda runs
    // interpreted here; the native-expression upgrade is the
    // GopherGrams pattern when it turns hot); everything after is ONE
    // map-side-combined fp groupBy + one fp-equality join — never
    // all-pairs. DuckDB re-derives boundaries, chunks, fingerprints,
    // and the shares, so the whole mechanism is hash-checked.
    "dedup_cdc_chunks" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val chunks = cdcChunkFrame(
          Tables.documents(s, d).select($"doc_id", $"text"))
          .pin() // 2 consumers: fp stats + per-doc shares
        val stats = chunks.groupBy($"cfp")
          .agg(countDistinct($"doc_id").as("ndocs"))
        chunks.join(stats, Seq("cfp"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("n_shared"),
            sum(when($"ndocs" >= 2, $"clen").otherwise(0L)).as("shared_chars"),
            sum($"clen").cast(LongType).as("total_chars"))
          // exact BIGINT numerator/denominator, not round(double, 6):
          // a quotient landing on a decimal half boundary would split
          // Spark's string-based HALF_UP from DuckDB's binary rounding;
          // consumers derive the fraction at whatever precision they need
          .select($"doc_id", $"n_chunks", $"n_shared",
            $"shared_chars".cast(LongType).as("shared_chars"), $"total_chars")
          .orderBy($"doc_id")
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 1),
        c AS (
          SELECT doc_id, text, n,
            list_filter(list_filter(generate_series(8, n),
              i -> (${fpSql("substr(text, CAST(i AS INT) - 7, 8)", P1)}) % 16 = 0),
              i -> i < n) AS cuts
          FROM d),
        sp AS (
          SELECT doc_id, text, n,
            list_prepend(0::BIGINT, cuts) AS starts,
            list_append(cuts, n::BIGINT) AS ends
          FROM c),
        ch AS (
          SELECT doc_id,
            substr(text, CAST(starts[j] + 1 AS INT),
                   CAST(ends[j] - starts[j] AS INT)) AS chunk
          FROM sp, unnest(generate_series(1, len(ends))) AS t(j)),
        cf AS (
          SELECT doc_id, length(chunk) AS clen,
                 ${fpSql("chunk", P1)} + ${fpSql("chunk", P2)} * $Mod AS cfp
          FROM ch),
        stats AS (SELECT cfp, COUNT(DISTINCT doc_id) AS ndocs FROM cf GROUP BY cfp)
        SELECT cf.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          CAST(SUM(CASE WHEN s.ndocs >= 2 THEN cf.clen ELSE 0 END) AS BIGINT)
            AS shared_chars,
          CAST(SUM(cf.clen) AS BIGINT) AS total_chars
        FROM cf JOIN stats s USING (cfp)
        GROUP BY cf.doc_id
        ORDER BY doc_id""")),

    // ── fuzzy dedup at EDIT-DISTANCE grade ──
    // The verify tier between exact hashing and token-set Jaccard:
    // Jaccard is blind to order (two docs with the same bag of tokens
    // in different order score 1.0) while edit distance prices every
    // insertion/deletion/substitution — the right verifier for
    // near-identical revisions (boilerplate variants, template fills,
    // OCR noise). Candidates come from the exact-substring generator
    // (pairs sharing ≥1 8-token window fingerprint, through the
    // skew-bounded pair primitive — never all-pairs: a levenshtein
    // self-join over a corpus is O(n²·len²) and unrunnable at any
    // scale); the verify is one `levenshtein` per candidate pair,
    // kept iff lev ≤ 50‰ of the longer text (integer arithmetic at
    // the threshold — no float ratio). At 100 TB the candidate set is
    // duplicate-rate-sized and each verify is independent map work;
    // Spark's 3-arg levenshtein(l, r, threshold) bounds the DP cost
    // per pair to O(len·threshold) when the texts are long (the
    // 2-arg form here keeps the oracle spelling identical — DuckDB
    // has no threshold form).
    // ── Jaro-Winkler linkage scores (cross-implementation proof) ──
    // The record-linkage community's standard name-matching score
    // joins the fuzzy family (edit distance counts OPERATIONS;
    // Jaro-Winkler weights matches by position and boosts shared
    // prefixes — the right shape for short keys like names and
    // titles). Scored over the same adjacent same-language ASCII
    // heads as llm_edit_distance in a typed map — no UDF in the
    // codegen sense, a deterministic Scala kernel on the pair frame.
    // The oracle is DuckDB's OWN C++ jaro_winkler_similarity, so the
    // hash-match is a cross-IMPLEMENTATION proof of the textbook
    // constants (window ⌊max/2⌋−1, half-transpositions, p = 0.1 over
    // 4 prefix chars above 0.7), not a replay of our arithmetic;
    // rounded at 6 decimals on both sides (the FMA discipline).
    "dedup_jaro_winkler" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            substring(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""),
              1, 40).as("head"))
          .pin() // both self-join sides read it
        docs.as("a").join(docs.as("b"),
            $"a.lang" === $"b.lang" && $"b.doc_id" === $"a.doc_id" + 1)
          .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
            $"a.head".as("h1"), $"b.head".as("h2"))
          .as[(Long, Long, String, String)]
          .map { case (d1, d2, h1, h2) =>
            val jw = graft.functions.JaroWinkler.jaroWinkler(h1, h2)
            (d1, d2,
              BigDecimal(jw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }
          .toDF("doc1", "doc2", "jw_sim")
          .orderBy($"doc1")
      },
      oracle = Some("""
        WITH h AS (
          SELECT doc_id, lang,
                 substring(regexp_replace(lower(text), '[^a-z0-9 ]', '',
                   'g'), 1, 40) AS head
          FROM documents)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               round(jaro_winkler_similarity(a.head, b.head), 6) AS jw_sim
        FROM h a JOIN h b ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
        ORDER BY doc1"""),
      headline = false),

    "dedup_fuzzy_edit" -> QueryDef(
      fn = (s, d) => fuzzyEditPairs(Tables.documents(s, d), FuzzyPermille),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        wfp AS (
          SELECT DISTINCT doc_id,
                 ${fpSql("gram", P1)} + ${fpSql("gram", P2)} * $Mod AS fp
          FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(8, len(tokens)),
                     i -> array_to_string(tokens[i-7:i], ' '))) AS gram
            FROM toks WHERE len(tokens) >= 8)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM wfp a JOIN wfp b
            ON a.fp = b.fp AND a.doc_id < b.doc_id),
        t AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS tlen
          FROM documents),
        v AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
                 greatest(ta.tlen, tb.tlen) AS max_len
          FROM pairs p
          JOIN t ta ON ta.doc_id = p.doc_a
          JOIN t tb ON tb.doc_id = p.doc_b)
        SELECT doc_a, doc_b, lev, max_len,
               (lev * 1000) // max_len AS lev_permille
        FROM v
        WHERE lev * 1000 <= max_len * $FuzzyPermille
        ORDER BY doc_a, doc_b""")),

    // ── EXACT set-similarity join via prefix filtering (AllPairs /
    //    PPJoin — Bayardo et al. WWW'07, Xiao et al. WWW'08) ──
    // The third candidate-generation family in the pack, and the only
    // sub-quadratic one that is EXACT: LSH banding (minhash/simhash)
    // trades recall for speed; posting-list intersection
    // (dedup_ngram_jaccard_banded) is exact but must touch every
    // shared-token pair. Prefix filtering keeps exactness while
    // joining only on each set's RAREST tokens: under a global
    // canonical token order (ascending document frequency, then
    // fingerprint), any pair with Jaccard ≥ τ must share a token
    // within the first |x| − ⌈τ·|x|⌉ + 1 tokens of each side — so the
    // equality join runs over prefixes whose tokens are by
    // construction the lowest-df in the corpus (shortest posting
    // lists), plus the τ·|a| ≤ |b| ≤ |a|/τ length filter. The DuckDB
    // oracle is the UNFILTERED quadratic ground truth, so the hash
    // match is a per-round proof that the filter is LOSSLESS — zero
    // false negatives, with the exact verify supplying zero false
    // positives. τ = 1/2 keeps every bound integer-exact (⌈n/2⌉ =
    // (n+1) div 2; J ≥ 1/2 ⟺ 3·inter ≥ n1+n2): no float at any
    // decision boundary.
    // Scale shape: df is one vocabulary-sized aggregate; the per-doc
    // canonical sort is a window bounded by document length; the
    // candidate join's fan-out is Σ over prefix tokens of
    // posting-len², minimized by rarest-first ordering — the measured
    // reason AllPairs beats banding on high-τ workloads — and further
    // cut by the PPJoin POSITIONAL filter (each occurrence's
    // remaining-overlap upper bound, pruned before the verify at zero
    // recall cost; see prefixFilterCandidates). Verify ships fps
    // arrays for candidate pairs only.
    "dedup_prefix_filter_join" -> QueryDef(
      fn = (s, d) => prefixFilterJoin(s, d),
      oracle = Some(prefixFilterSql),
      headline = true),

    // ── sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95
    //    merge/purge) ──
    // The fourth candidate-generation family: sort the corpus ONCE by
    // a domain key that co-locates likely duplicates — here
    // (lang, n_chars, doc_id), the same signal the blocked Jaccard
    // face exploits — then compare each record only against its w
    // positional successors. Candidate count is EXACTLY n·w (linear,
    // data-independent — the property LSH banding and prefix filtering
    // cannot promise under skew), at the price of key-bounded recall;
    // production systems run multiple passes with different keys.
    // The global rank is [[Relational.globalRank]]: range sort + a
    // broadcast offset projection, ZERO post-sort shuffles, and the
    // ±w adjacency join is an EQUALITY join on the rank's div-w block
    // (each right row tagged into its own and the previous block, ≤2×
    // replication) — never a range-condition nested loop. The oracle
    // re-runs rank → window → verify in SQL, so the hash match checks
    // the distributed rank arithmetic end to end.
    "dedup_sorted_neighborhood" -> QueryDef(
      fn = (s, d) => sortedNeighborhoodPairs(s, d, SnWindow),
      oracle = Some(sortedNeighborhoodSql),
      headline = false),

    // ── Fellegi–Sunter probabilistic record linkage ──
    // The PRINCIPLED scorer the blocking families feed (Fellegi &
    // Sunter, JASA 1969): cross-SOURCE candidate pairs (length-bucket
    // blocking, one equality self-join) scored by the log-likelihood
    // ratio Σ_f ln(m_f/u_f) over field agreements — lang, first token,
    // last token, exact length. The u-probabilities (chance agreement
    // between NON-matches) are estimated EXACTLY from the data as
    // Σ_v c_v(c_v−1) / N(N−1) per field (four tiny count aggregates,
    // broadcast as ONE weight row); the m-probabilities are the fixed
    // plausibilities a deployment would EM-fit (0.95/0.90/0.90/0.85 —
    // swapping them in changes only four literals). Each weight is
    // ln-quantized to exact micro-units (the surprisal idiom), so pair
    // scores are exact integers and the match set (score > 3e6 ≙
    // likelihood ratio e³ ≈ 20:1) is deterministic. Blocking here is
    // bounded by the length-bucket census; a skew-prone corpus would
    // route the same pair generation through the bounded-bucket
    // primitive the banded LSH faces use. The oracle re-derives the
    // u-estimates, all eight weights, the blocking join, and every
    // pair score.
    "dedup_fs_linkage" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        fsScoredPairs(s, d)
          .filter($"score_micro" > 3000000L)
          .select($"a_id", $"b_id", $"g_lang", $"g_first", $"g_last",
            $"g_len", $"score_micro")
          .orderBy($"a_id", $"b_id")
      },
      oracle = Some(s"""$FsScoredCtesSql
        SELECT a_id, b_id, g_lang, g_first, g_last, g_len,
               CAST(score_micro AS BIGINT) AS score_micro
        FROM scored WHERE score_micro > 3000000
        ORDER BY a_id, b_id""")),

    // ── Fellegi–Sunter EM refit (one M-step from the classified set) ──
    // dedup_fs_linkage scores with PRIOR m-probabilities; this is the
    // step a deployment actually iterates: classify candidate pairs
    // with the current weights, then RE-ESTIMATE per field
    // m = P(agree | matched) and u = P(agree | unmatched) from the
    // classified sets (Laplace-smoothed: (agree+1)/(n+2) — no zero or
    // one probability can arise, the EM analogue of the u-clamp
    // above), and emit the re-fitted agreement/disagreement weights.
    // Every probability is an exact integer rational and each weight
    // is ONE quantized ln of a rational of exact longs — bit-identical
    // across engines. Scale shape: one pass over the blocked candidate
    // pairs (already bounded by the length-bucket census) computing 10
    // counters map-side; everything after is 4-row arithmetic. The
    // oracle recomputes the whole chain off the SAME scored CTEs the
    // linkage oracle uses (single-sourced), so the two queries cannot
    // drift in classification.
    "dedup_fs_em" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val m = $"score_micro" > 3000000L
        def amau(g: Column, f: String) = Seq(
          sum(when(m && g, 1L).otherwise(0L)).as(s"am_$f"),
          sum(when(!m && g, 1L).otherwise(0L)).as(s"au_$f"))
        val aggs: Seq[Column] =
          Seq(sum(when(m, 1L).otherwise(0L)).as("nm"),
            count(lit(1)).as("np")) ++
          amau($"g_lang", "lang") ++ amau($"g_first", "first") ++
          amau($"g_last", "last") ++ amau($"g_len", "len")
        val em = fsScoredPairs(s, d).agg(aggs.head, aggs.tail: _*)
        val fields = em.select(explode(array(
            struct(lit("first").as("field"), $"am_first".as("am"),
              $"au_first".as("au"), $"nm", ($"np" - $"nm").as("nu")),
            struct(lit("lang").as("field"), $"am_lang".as("am"),
              $"au_lang".as("au"), $"nm", ($"np" - $"nm").as("nu")),
            struct(lit("last").as("field"), $"am_last".as("am"),
              $"au_last".as("au"), $"nm", ($"np" - $"nm").as("nu")),
            struct(lit("len").as("field"), $"am_len".as("am"),
              $"au_len".as("au"), $"nm", ($"np" - $"nm").as("nu"))))
            .as("x"))
          .select($"x.*")
        fields.select($"field", $"nm".as("n_matched"),
            $"nu".as("n_unmatched"), $"am".as("agree_matched"),
            $"au".as("agree_unmatched"),
            (round(log((($"am" + 1L) * ($"nu" + 2L)).cast(DoubleType) /
                (($"nm" + 2L) * ($"au" + 1L)).cast(DoubleType)), 6)
              .cast(DecimalType(20, 6)) * 1000000).cast(LongType)
              .as("w_agree_micro"),
            (round(log((($"nm" + 1L - $"am") * ($"nu" + 2L)).cast(DoubleType) /
                (($"nm" + 2L) * ($"nu" + 1L - $"au")).cast(DoubleType)), 6)
              .cast(DecimalType(20, 6)) * 1000000).cast(LongType)
              .as("w_disagree_micro"))
          .orderBy($"field")
      },
      oracle = Some(s"""$FsScoredCtesSql,
        em AS (
          SELECT
            CAST(SUM(CASE WHEN score_micro > 3000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS nm,
            CAST(COUNT(*) AS BIGINT) AS np,
            CAST(SUM(CASE WHEN score_micro > 3000000 AND g_lang
              THEN 1 ELSE 0 END) AS BIGINT) AS am_lang,
            CAST(SUM(CASE WHEN score_micro <= 3000000 AND g_lang
              THEN 1 ELSE 0 END) AS BIGINT) AS au_lang,
            CAST(SUM(CASE WHEN score_micro > 3000000 AND g_first
              THEN 1 ELSE 0 END) AS BIGINT) AS am_first,
            CAST(SUM(CASE WHEN score_micro <= 3000000 AND g_first
              THEN 1 ELSE 0 END) AS BIGINT) AS au_first,
            CAST(SUM(CASE WHEN score_micro > 3000000 AND g_last
              THEN 1 ELSE 0 END) AS BIGINT) AS am_last,
            CAST(SUM(CASE WHEN score_micro <= 3000000 AND g_last
              THEN 1 ELSE 0 END) AS BIGINT) AS au_last,
            CAST(SUM(CASE WHEN score_micro > 3000000 AND g_len
              THEN 1 ELSE 0 END) AS BIGINT) AS am_len,
            CAST(SUM(CASE WHEN score_micro <= 3000000 AND g_len
              THEN 1 ELSE 0 END) AS BIGINT) AS au_len
          FROM scored),
        fields AS (
          SELECT 'first' AS field, am_first AS am, au_first AS au,
                 nm, np - nm AS nu FROM em
          UNION ALL SELECT 'lang', am_lang, au_lang, nm, np - nm FROM em
          UNION ALL SELECT 'last', am_last, au_last, nm, np - nm FROM em
          UNION ALL SELECT 'len', am_len, au_len, nm, np - nm FROM em)
        SELECT field, nm AS n_matched, nu AS n_unmatched,
               am AS agree_matched, au AS agree_unmatched,
               CAST(CAST(round(ln(
                   CAST((am + 1) * (nu + 2) AS DOUBLE) /
                   CAST((nm + 2) * (au + 1) AS DOUBLE)), 6)
                 AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS w_agree_micro,
               CAST(CAST(round(ln(
                   CAST((nm + 1 - am) * (nu + 2) AS DOUBLE) /
                   CAST((nm + 2) * (nu + 1 - au) AS DOUBLE)), 6)
                 AS DECIMAL(20,6)) * 1000000 AS BIGINT)
                 AS w_disagree_micro
        FROM fields ORDER BY field""")),

  )

  /** The Fellegi–Sunter scored candidate pairs shared by
    * `dedup_fs_linkage` (filter > e³) and `dedup_fs_em` (the M-step
    * re-estimation): blocking, data-estimated u-probabilities, prior
    * m-weights, and the per-pair integer score — one pipeline, two
    * consumers, so classification can never drift between them. */
  private[operators] def fsScoredPairs(
      s: SparkSession, d: String): DataFrame = {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"source", $"n_chars",
            element_at(split($"text", " "), 1).as("ft"),
            element_at(split($"text", " "), -1).as("lt"))
          .pin() // 4 u-aggregates + both join sides
        val n = docs.agg(count(lit(1)).as("n"))
          .select(($"n" * ($"n" - 1L)).as("u_den"))
        def uNum(c: Column, name: String) = docs.groupBy(c.as("v"))
          .agg(count(lit(1)).as("c"))
          .agg(sum($"c" * ($"c" - 1L)).as(name))
        // m and 1−m are BOTH explicit literals (1.0 − 0.95 in Scala is
        // 0.05000000000000004 — one ulp off DuckDB's parsed 0.05).
        // Both u-counts are clamped to ≥1 pair (the standard FS
        // smoothing floor u ≥ 1/u_den): a fully-DISTINCT field would
        // give uNum = 0 → ln(∞) → null after the Decimal cast (silently
        // dropping every pair in Spark, an error in DuckDB), and a
        // fully-CONSTANT field the mirror u_den − uNum = 0. The oracle
        // applies the identical greatest(…, 1).
        def wPair(uNumCol: Column, uDen: Column, m: Double, m1: Double,
            aName: String, dName: String) = Seq(
          (round(log(lit(m) * uDen.cast(DoubleType) /
              greatest(uNumCol, lit(1L)).cast(DoubleType)), 6)
            .cast(DecimalType(20, 6)) * 1000000).cast(LongType).as(aName),
          (round(log(lit(m1) * uDen.cast(DoubleType) /
              greatest(uDen - uNumCol, lit(1L)).cast(DoubleType)), 6)
            .cast(DecimalType(20, 6)) * 1000000).cast(LongType).as(dName))
        val w = n.crossJoin(uNum($"lang", "ul"))
          .crossJoin(uNum($"ft", "uf"))
          .crossJoin(uNum($"lt", "ut"))
          .crossJoin(uNum($"n_chars", "un"))
          .select(
            wPair($"ul", $"u_den", 0.95, 0.05, "wl_a", "wl_d") ++
            wPair($"uf", $"u_den", 0.90, 0.10, "wf_a", "wf_d") ++
            wPair($"ut", $"u_den", 0.90, 0.10, "wt_a", "wt_d") ++
            wPair($"un", $"u_den", 0.85, 0.15, "wn_a", "wn_d"): _*)
        val blk = docs.withColumn("blk", expr("n_chars div 25"))
        val pairs = blk.as("a").join(blk.as("b"),
            $"a.blk" === $"b.blk" && $"a.source" < $"b.source")
          .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
            ($"a.lang" === $"b.lang").as("g_lang"),
            ($"a.ft" === $"b.ft").as("g_first"),
            ($"a.lt" === $"b.lt").as("g_last"),
            ($"a.n_chars" === $"b.n_chars").as("g_len"))
        pairs.crossJoin(broadcast(w))
          .withColumn("score_micro",
            when($"g_lang", $"wl_a").otherwise($"wl_d") +
            when($"g_first", $"wf_a").otherwise($"wf_d") +
            when($"g_last", $"wt_a").otherwise($"wt_d") +
            when($"g_len", $"wn_a").otherwise($"wn_d"))
  }

  /** DuckDB twin of [[fsScoredPairs]] — the CTE chain ending in
    * `scored`, single-sourced for both FS oracles. */
  private lazy val FsScoredCtesSql: String = """
        WITH d AS (
          SELECT doc_id, lang, source, n_chars,
                 split_part(text, ' ', 1) AS ft,
                 list_extract(string_split(text, ' '),
                   len(string_split(text, ' '))) AS lt
          FROM documents),
        nn AS (SELECT COUNT(*) * (COUNT(*) - 1) AS u_den FROM d),
        ul AS (SELECT SUM(c * (c - 1)) AS u FROM (
          SELECT COUNT(*) AS c FROM d GROUP BY lang)),
        uf AS (SELECT SUM(c * (c - 1)) AS u FROM (
          SELECT COUNT(*) AS c FROM d GROUP BY ft)),
        ut AS (SELECT SUM(c * (c - 1)) AS u FROM (
          SELECT COUNT(*) AS c FROM d GROUP BY lt)),
        un AS (SELECT SUM(c * (c - 1)) AS u FROM (
          SELECT COUNT(*) AS c FROM d GROUP BY n_chars)),
        w AS (
          SELECT
            CAST(CAST(round(ln(0.95 * CAST(u_den AS DOUBLE)
              / CAST(greatest(ul.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6)) * 1000000
              AS BIGINT) AS wl_a,
            CAST(CAST(round(ln(0.05 * CAST(u_den AS DOUBLE)
              / CAST(greatest(u_den - ul.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6))
              * 1000000 AS BIGINT) AS wl_d,
            CAST(CAST(round(ln(0.9 * CAST(u_den AS DOUBLE)
              / CAST(greatest(uf.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6)) * 1000000
              AS BIGINT) AS wf_a,
            CAST(CAST(round(ln(0.1 * CAST(u_den AS DOUBLE)
              / CAST(greatest(u_den - uf.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6))
              * 1000000 AS BIGINT) AS wf_d,
            CAST(CAST(round(ln(0.9 * CAST(u_den AS DOUBLE)
              / CAST(greatest(ut.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6)) * 1000000
              AS BIGINT) AS wt_a,
            CAST(CAST(round(ln(0.1 * CAST(u_den AS DOUBLE)
              / CAST(greatest(u_den - ut.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6))
              * 1000000 AS BIGINT) AS wt_d,
            CAST(CAST(round(ln(0.85 * CAST(u_den AS DOUBLE)
              / CAST(greatest(un.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6)) * 1000000
              AS BIGINT) AS wn_a,
            CAST(CAST(round(ln(0.15 * CAST(u_den AS DOUBLE)
              / CAST(greatest(u_den - un.u, 1) AS DOUBLE)), 6) AS DECIMAL(20,6))
              * 1000000 AS BIGINT) AS wn_d
          FROM nn, ul, uf, ut, un),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.lang = b.lang AS g_lang,
                 a.ft = b.ft AS g_first,
                 a.lt = b.lt AS g_last,
                 a.n_chars = b.n_chars AS g_len
          FROM d a JOIN d b
            ON a.n_chars // 25 = b.n_chars // 25
           AND a.source < b.source),
        scored AS (
          SELECT a_id, b_id, g_lang, g_first, g_last, g_len,
                 (CASE WHEN g_lang THEN wl_a ELSE wl_d END) +
                 (CASE WHEN g_first THEN wf_a ELSE wf_d END) +
                 (CASE WHEN g_last THEN wt_a ELSE wt_d END) +
                 (CASE WHEN g_len THEN wn_a ELSE wn_d END) AS score_micro
          FROM pairs, w)"""

  /** The merge/purge pipeline behind `dedup_sorted_neighborhood`:
    * global rank by (lang, n_chars, doc_id) → ±w positional candidates
    * via the block-equality join → exact shingle-Jaccard verify at the
    * weak 0.05 grade. Exposed for DedupSpec. */
  private[operators] def sortedNeighborhoodPairs(
      s: SparkSession, d: String, w: Int): DataFrame = {
    import s.implicits._
    val ranked = Relational.globalRank(s,
        Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars"),
        Seq($"lang", $"n_chars", $"doc_id"))
      .select($"doc_id", $"rk")
      .pin() // both sides of the adjacency join
    val left = ranked.select($"doc_id".as("doc_a"), $"rk".as("rka"),
      expr(s"rk div $w").as("blk"))
    val right = ranked.select($"doc_id".as("doc_b"), $"rk".as("rkb"),
      explode(array(expr(s"rk div $w"), expr(s"rk div $w - 1"))).as("blk"))
    val cand = left.join(right,
        Seq("blk"))
      .filter($"rkb" - $"rka" >= 1 && $"rkb" - $"rka" <= w)
      .select($"doc_a", $"doc_b", ($"rkb" - $"rka").as("dist"))
    val fps = fpsOf(Tables.documents(s, d))
      .filter(size($"fps") > 0)
      .withColumn("n", size($"fps").cast(LongType))
      .pin()
    cand
      .join(fps.select($"doc_id".as("doc_a"), $"fps".as("fps1"),
        $"n".as("n1")), Seq("doc_a"))
      .join(fps.select($"doc_id".as("doc_b"), $"fps".as("fps2"),
        $"n".as("n2")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect($"fps1", $"fps2")).cast(LongType))
      .withColumn("jaccard",
        $"inter".cast(DoubleType) /
          ($"n1" + $"n2" - $"inter").cast(DoubleType))
      .filter($"jaccard" >= 0.05)
      .select($"doc_a", $"doc_b", $"dist", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle for `dedup_sorted_neighborhood`: the rank → ±w window →
    * exact-Jaccard verify pipeline restated in SQL (the blocking is
    * deterministic — (lang, n_chars, doc_id) is a total order — so the
    * candidate set itself is engine-reproducible). */
  private lazy val sortedNeighborhoodSql: String = s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (
          SELECT doc_id, $shinglesSql AS sh FROM toks),
        nz AS (
          SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
          FROM sh WHERE len(sh) > 0),
        rk AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY lang, n_chars, doc_id) - 1 AS rk
          FROM documents),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(b.rk - a.rk AS BIGINT) AS dist
          FROM rk a JOIN rk b ON b.rk - a.rk BETWEEN 1 AND $SnWindow),
        v AS (
          SELECT c.doc_a, c.doc_b, c.dist,
                 CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 CAST(x.n + y.n - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                   AS jaccard
          FROM cand c
          JOIN nz x ON x.doc_id = c.doc_a
          JOIN nz y ON y.doc_id = c.doc_b)
        SELECT doc_a, doc_b, dist, jaccard
        FROM v WHERE jaccard >= 0.05
        ORDER BY doc_a, doc_b"""

  /** Candidate generation for [[prefixFilterJoin]]: rarest-first
    * prefixes, fp-equality self-join under the length filter, and —
    * when `positional` — the PPJoin positional filter (Xiao et al.,
    * WWW 2008). Each candidate OCCURRENCE carries the matching prefix
    * token's rarest-first rank r on both sides; the remaining-overlap
    * upper bound for that occurrence is min(n_a − r_a, n_b − r_b) + 1
    * (both docs are sorted in the SAME canonical order, so common
    * tokens after the match are bounded by the shorter remaining
    * suffix). Pruning occurrences with 3·ubound < n_a + n_b (⟺
    * ubound < ⌈τ/(1+τ)·(n_a+n_b)⌉ at τ = 1/2, integer-exact) is
    * LOSSLESS: for a true pair, its FIRST common token t₁ has zero
    * common tokens before it, so overlap ≤ 1 + min(n_a−r_a, n_b−r_b)
    * at t₁ — that occurrence always survives, and `distinct` keeps the
    * pair. Exposed (with `positional = false`) for DedupSpec's
    * candidate-reduction gate. */
  private[operators] def prefixFilterCandidates(
      s: SparkSession, docs: DataFrame, positional: Boolean): DataFrame = {
    import s.implicits._
    val posts = docs.select($"doc_id", $"n", explode($"fps").as("fp"))
    // document frequency — the canonical-order key (vocabulary-sized)
    val dfs = posts.groupBy($"fp").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"fp")
    // rarest-first rank within each doc; prefix keeps the first
    // n − ⌈n/2⌉ + 1 tokens (integer-exact at τ = 1/2)
    // NOT pinned (r16 A/B): Catalyst's exchange reuse already serves
    // both sides of the a/b self-join below from one execution of
    // this pipeline — an eager checkpoint here measured 2.8 -> 4.1 s
    // (one extra materialization job and the reuse lost).
    val prefix = posts.join(dfs, Seq("fp"))
      .withColumn("r", row_number().over(w).cast(LongType))
      .filter($"r" <= expr("n - (n + 1) div 2 + 1"))
      .select($"doc_id", $"n", $"r", $"fp")
    val positionalOk =
      if (!positional) lit(true)
      else (least($"a.n" - $"a.r", $"b.n" - $"b.r") + 1) * 3 >=
        $"a.n" + $"b.n"
    prefix.as("a").join(prefix.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id" &&
          // length filter: τ·max ≤ min ⟺ n_a ≤ 2·n_b ∧ n_b ≤ 2·n_a
          $"a.n" <= $"b.n" * 2 && $"b.n" <= $"a.n" * 2 &&
          positionalOk)
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
      .distinct()
  }

  /** The AllPairs/PPJoin pipeline behind `dedup_prefix_filter_join` at
    * τ = 1/2 (near-duplicate grade). Exposed for DedupSpec's
    * lossless-vs-quadratic and planted-pair gates. */
  private[operators] def prefixFilterJoin(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // (doc_id, fps, n): distinct shingle fingerprints + set size.
    // Checkpointed once; feeds the posting explode and both verify
    // sides.
    val docs = fpsOf(Tables.documents(s, d))
      .filter(size($"fps") > 0)
      .withColumn("n", size($"fps").cast(LongType))
      .pin()
    prefixFilterCandidates(s, docs, positional = true)
      .join(docs.select($"doc_id".as("doc1"), $"fps".as("fps1"),
        $"n".as("n1")), Seq("doc1"))
      .join(docs.select($"doc_id".as("doc2"), $"fps".as("fps2"),
        $"n".as("n2")), Seq("doc2"))
      .withColumn("inter",
        size(array_intersect($"fps1", $"fps2")).cast(LongType))
      .filter($"inter" * 3 >= $"n1" + $"n2") // J ≥ 1/2, integer-exact
      .select($"doc1", $"doc2",
        ($"inter".cast(DoubleType) /
          ($"n1" + $"n2" - $"inter").cast(DoubleType)).as("jaccard"))
      .orderBy($"doc1", $"doc2")
  }

  /** Ground-truth oracle for `dedup_prefix_filter_join`: the UNFILTERED
    * quadratic Jaccard join over shingle string sets (no lang/length
    * blocking — the prefix filter must reproduce it exactly). */
  private lazy val prefixFilterSql: String = s"""
        WITH toks AS (
          SELECT doc_id, $tokensSql AS tokens FROM documents),
        sh AS (
          SELECT doc_id, $shinglesSql AS sh FROM toks),
        nz AS (
          SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n
          FROM sh WHERE len(sh) > 0)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(a.n + b.n - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 AS jaccard
        FROM nz a JOIN nz b ON a.doc_id < b.doc_id
        WHERE 3 * len(list_intersect(a.sh, b.sh)) >= a.n + b.n
        ORDER BY doc1, doc2"""

  /** The pipeline behind `dedup_fuzzy_edit`, on any (doc_id, text)
    * frame: 8-token window fingerprints (distinct per doc) →
    * fp-equality candidates via [[boundedBucketPairs]] → levenshtein
    * verify at `permille`. Exposed for DedupSpec's planted-revision
    * gates. */
  private[operators] def fuzzyEditPairs(
      docs: DataFrame, permille: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wfp = docs.withColumn("tokens", tokensCol)
      .filter(size($"tokens") >= 8)
      .select($"doc_id", expr(
        """transform(sequence(1, size(tokens) - 7), i ->
             concat_ws(' ', slice(tokens, i, 8)))""").as("grams"))
      .transform(materialized)
      .select($"doc_id", explode(array_distinct(
        transform($"grams", g => rolling_hash2(g)))).as("fp"))
    val pairs = boundedBucketPairs(wfp, "doc_id", Seq("fp"))
    // joined once per pair side; the checkpoint stops the candidate
    // branch from re-running the corpus scan per side
    val texts = docs
      .select($"doc_id", $"text", length($"text").cast(LongType).as("tlen"))
      .pin()
    pairs
      .join(texts.select($"doc_id".as("id1"), $"text".as("text1"),
        $"tlen".as("len1")), Seq("id1"))
      .join(texts.select($"doc_id".as("id2"), $"text".as("text2"),
        $"tlen".as("len2")), Seq("id2"))
      .withColumn("lev", levenshtein($"text1", $"text2").cast(LongType))
      .withColumn("max_len", greatest($"len1", $"len2"))
      .filter($"lev" * 1000 <= $"max_len" * permille)
      .select($"id1".as("doc_a"), $"id2".as("doc_b"), $"lev", $"max_len",
        expr("(lev * 1000) div max_len").as("lev_permille"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Content-defined chunk rows (doc_id, clen, cfp) for a
    * (doc_id, text) frame — the CDC mechanism of `dedup_cdc_chunks`
    * (W=8 rolling window, boundary where hash ≡ 0 mod 16), factored
    * out so the continuous face
    * ([[graft.streaming.StreamingDedup.cdcDedupStream]]) chunks each
    * micro-batch with EXACTLY the batch query's arithmetic. */
  private[graft] def cdcChunkFrame(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 8
    val Div = 16
    val winFp = (i: Column) =>
      rolling_hash($"text".substr((i - (W - 1)).cast(IntegerType), lit(W)))
    docs
      .select($"doc_id", $"text", length($"text").as("n"))
      .filter($"n" >= 1)
      .withColumn("cuts",
        when($"n" >= W,
          filter(filter(sequence(lit(W), $"n"), i => winFp(i) % Div === 0),
            i => i < $"n"))
          .otherwise(array().cast("array<int>")))
      .withColumn("starts", concat(array(lit(0)), $"cuts"))
      .withColumn("ends", concat($"cuts", array($"n")))
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"ends")), j =>
          $"text".substr(element_at($"starts", j) + 1,
            element_at($"ends", j) - element_at($"starts", j))))
          .as("chunk"))
      .select($"doc_id", length($"chunk").as("clen"),
        rolling_hash2($"chunk").as("cfp"))
  }

  /** NEW chunks of an increment against the accumulated cfp-bucketed
    * chunk-fingerprint state: the in-batch collapse is one
    * map-side-combined groupBy on cfp (clen is content-determined, so
    * min == the value; first_doc = min doc_id is the deterministic
    * "stored by" owner), and the anti-join meets the state ON ITS
    * BUCKETING — the groupBy's hashpartitioning(cfp) is the table's
    * layout, so the plan's only exchange is the increment side
    * aligning (BucketingSpec gates it). At 100 TB of accumulated
    * chunks the per-batch cost is proportional to the BATCH, never
    * the state — the exact-dedup asymmetry, kept for storage-layer
    * chunk dedup. */
  def cdcIncrementalAgainstState(
      spark: SparkSession,
      chunks: DataFrame,
      stateTable: String): DataFrame = {
    import spark.implicits._
    chunks
      .groupBy($"cfp")
      .agg(min($"clen").cast(LongType).as("clen"),
        min($"doc_id").as("first_doc"))
      .join(spark.table(stateTable), Seq("cfp"), "left_anti")
      .select($"cfp", $"clen", $"first_doc")
  }

  /** Multi-table sign-LSH banded near-dup pairs over a (vec_id, emb)
    * frame: candidates from equality joins on (band, bucket) — never
    * all-pairs — then exact-cosine verification against `threshold`.
    * Shared by the `dedup_embedding_ann_pairs` query and the
    * planted-duplicate recall gate in DedupSpec. */
  def embeddingAnnPairs(
      e: DataFrame,
      nBands: Int,
      bitsPerBand: Int,
      dim: Int,
      threshold: Double): DataFrame = {
    val buckets = (0 until nBands).map(t =>
      VectorFunctions.lshBucket(col("emb"), bitsPerBand, dim, base = t * bitsPerBand))
    // 16 rows of (vec_id, band, bucket) per vector; checkpointed so the
    // self-join's two sides don't each recompute the 16 hyperplane-LSH
    // bucket assignments (4k flops per vector). The widest-bucket bound
    // rides the pin's own job — here the pinned frame IS the banded
    // frame, so the fold reads the (band, bucket) columns directly (no
    // projection to mirror) and a certifying bound skips the width probe
    val bandedPlan = e.select(col("vec_id"),
      posexplode(array(buckets: _*)).as(Seq("band", "bucket")))
    val bandIdx = bandedPlan.schema.fieldIndex("band")
    val bucketIdx = bandedPlan.schema.fieldIndex("bucket")
    val (banded, widthBound) = org.apache.spark.sql.graftshim.Shim
      .pinWithWidthBound(bandedPlan, { r =>
        Iterator.single((r.getInt(bandIdx), r.getLong(bucketIdx)))
      })
    // skew-bounded band join (see Dedup.boundedBucketPairs): identical
    // pairs to the plain equality self-join, hot buckets block-paired
    val cand = boundedBucketPairs(banded, "vec_id", Seq("band", "bucket"),
        widthBound = Some(widthBound))
      .select(col("id1").as("vec1"), col("id2").as("vec2"))
    val byId = e.select(col("vec_id"), col("emb"))
    cand
      .join(byId.select(col("vec_id").as("vec1"), col("emb").as("e1")), Seq("vec1"))
      .join(byId.select(col("vec_id").as("vec2"), col("emb").as("e2")), Seq("vec2"))
      .withColumn("cos", round(VectorFunctions.cosine(col("e1"), col("e2")), 9))
      .filter(col("cos") >= threshold)
      .select(col("vec1"), col("vec2"), col("cos"))
    // unordered: the pair-listing query adds its own orderBy; the recall
    // eval and the DedupSpec gates aggregate, where a sort is wasted work
  }

  /** Self-contained value oracle for `dedup_embedding_ann_pairs`: the
    * 64 sign-LSH hyperplanes (16 bands × 4 bits, plane id = band*4 +
    * bit) are literal splitmix64 values, embedded so DuckDB rebuilds
    * bucket signs, the (band, bucket) candidate join, and the
    * exact-cosine verification with no engine-side state. Same
    * robustness argument as `sim_ann_lsh`'s oracle: Double.toString
    * round-trips exactly, and a plane dot within float-noise of zero
    * has ~0 probability on continuous embeddings. */
  private lazy val embeddingAnnPairsSql: String = {
    val planeRows = (0 until 64).map { pid =>
      val comps = (0 until 64)
        .map(i => VectorFunctions.planeComponent(pid, i, 64)).mkString(", ")
      s"($pid, [$comps])"
    }.mkString(",\n            ")
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
            $planeRows) t(pid, p)),
        sb AS (
          SELECT e.vec_id, pl.pid // 4 AS band,
                 CAST(SUM(CASE WHEN list_sum(list_transform(
                        generate_series(1, 64), i -> e.emb[i] * pl.p[i])) > 0
                      THEN (1::BIGINT << (pl.pid % 4)) ELSE 0 END) AS BIGINT)
                   AS bucket
          FROM e, planes pl
          GROUP BY e.vec_id, pl.pid // 4),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
          FROM sb a JOIN sb b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id),
        scored AS (
          SELECT c.vec1, c.vec2,
            round(
              list_sum(list_transform(generate_series(1, len(ea.emb)),
                i -> ea.emb[i] * eb.emb[i])) /
              (sqrt(list_sum(list_transform(ea.emb, x -> x*x))) *
               sqrt(list_sum(list_transform(eb.emb, x -> x*x)))), 9) AS cos
          FROM cand c
          JOIN e ea ON ea.vec_id = c.vec1
          JOIN e eb ON eb.vec_id = c.vec2)
        SELECT vec1, vec2, cos FROM scored
        WHERE cos >= 0.35
        ORDER BY vec1, vec2"""
  }

  /** Shared oracle of `dedup_ngram_jaccard` and its fingerprint-banded
    * twin — identical SQL for both is the equality proof. */
  private lazy val ngramJaccardSql: String = s"""
        WITH toks AS (
          SELECT doc_id, lang, n_chars, $tokensSql AS tokens FROM documents),
        sh AS (
          SELECT doc_id, lang, n_chars, $shinglesSql AS sh FROM toks),
        nz AS (SELECT * FROM sh WHERE len(sh) > 0)
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 AS jaccard
        FROM nz a JOIN nz b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 50
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              >= 0.05
        ORDER BY doc1, doc2"""

  /** Self-contained value oracle for `dedup_semantic`: the shared IVF
    * k-means build ([[Similarity.ivfBuildCtes]] — seeds, 3 Lloyd
    * rounds, final assignment) plus the in-cluster cosine pair scan
    * and the greedy smallest-partner prune. */
  private lazy val semanticDedupSql: String = s"""
        ${Similarity.ivfBuildCtes},
        sp AS (
          SELECT a.centroid_id, a.vec_id AS pa, b.vec_id AS pb,
            round(
              list_sum(list_transform(generate_series(1, len(a.emb)),
                i -> a.emb[i] * b.emb[i])) /
              (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
               sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 9) AS cos
          FROM fin a JOIN fin b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
        SELECT pb AS vec_id, centroid_id,
               MIN(pa) AS leader, MAX(cos) AS best_cos
        FROM sp
        WHERE cos >= 0.35
        GROUP BY pb, centroid_id
        ORDER BY vec_id"""

  /** Self-contained value oracle for `dedup_prototypes`: the shared
    * IVF build ([[Similarity.ivfBuildCtes]]) plus centroid-cosine
    * ranking and the 25% prototypical-drop frontier per cluster.
    * Spark's `ceil` on a double returns BIGINT where DuckDB's returns
    * DOUBLE — the explicit CAST pins the comparison type. */
  private lazy val prototypesSql: String = s"""
        ${Similarity.ivfBuildCtes},
        proto AS (
          SELECT f.vec_id, f.centroid_id,
            round(
              list_sum(list_transform(generate_series(1, len(f.emb)),
                i -> f.emb[i] * c.cemb[i])) /
              (sqrt(list_sum(list_transform(f.emb, x -> x*x))) *
               sqrt(list_sum(list_transform(c.cemb, x -> x*x)))), 9)
              AS proto_cos
          FROM fin f JOIN c3 c ON c.centroid_id = f.centroid_id),
        ranked AS (
          SELECT vec_id, centroid_id, proto_cos,
            CAST(ROW_NUMBER() OVER (PARTITION BY centroid_id
                 ORDER BY proto_cos DESC, vec_id) AS BIGINT) AS crank,
            CAST(COUNT(*) OVER (PARTITION BY centroid_id) AS BIGINT)
              AS cluster_n
          FROM proto)
        SELECT vec_id, centroid_id, proto_cos, crank, cluster_n,
               crank > CAST(ceil(0.25 * cluster_n) AS BIGINT) AS keep
        FROM ranked
        ORDER BY vec_id"""

  /** Shared oracle of `dedup_embedding_cosine` and its block-partitioned
    * twin — identical SQL for both is the equality proof. */
  private lazy val embeddingCosineSql: String = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS vec1, b.vec_id AS vec2,
            round(
              list_sum(list_transform(generate_series(1, len(a.emb)),
                i -> a.emb[i] * b.emb[i])) /
              (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
               sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 9) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT vec1, vec2, cos
        FROM pairs
        WHERE cos >= 0.35
        ORDER BY vec1, vec2"""
}
