package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, QueryPack, Tables, Tuning}
import graft.functions.VectorFunctions._

/** Similarity search over the embeddings table (SURVEY.md §2.3):
  * brute-force cosine top-k as the exact baseline (oracle-checked), plus
  * two sub-linear scale paths — random-hyperplane LSH buckets with
  * multiprobe, and a one-round IVF (inverted-file) index.
  *
  * Scale design: the query set is always the broadcast side; candidates
  * stream through the scan stage where the dot products codegen. The
  * exact variant's per-query ranking is a window over (queries ×
  * candidates) — fine for a handful of queries; LSH/IVF cut the
  * candidate set to a bucket before ranking, which is the shape that
  * survives 10^9 vectors: bucket assignment is map-only, the join is an
  * equality join on bucket id, and ranking happens per bucket.
  */
object Similarity extends QueryPack {

  /** Label the jobs `body` submits (guide §1.5) — thread-local, reset
    * after, so probe/UI attribution is exact and costs nothing. */
  private def labeled[A](s: SparkSession, what: String)(body: => A): A = {
    s.sparkContext.setJobDescription(what)
    try body finally s.sparkContext.setJobDescription(null)
  }

  private val Dim = 64

  /** Output dims of the JL projection (`sim_jl_project`) and the
    * plane-id offset keeping its matrix disjoint from the LSH/banding
    * plane families. Declared before the query map: the oracle string
    * is forced at object init. */
  private val JlDim = 16
  private val JlPlaneBase = 4096

  /** Cells each IVF query scans in the multiprobe path: the assignment
    * cell plus the next-nearest centroids. 3 of 8 cells lifts measured
    * recall@5 from the single-cell ceiling (0.28 on the near-uniform
    * fixture at sf0.001/0.01) to 0.56-0.76 while still skipping most
    * of the corpus. */
  private val IvfNProbe = 3

  /** Probe budget when a SELECTIVE predicate rides the IVFADC scan
    * (`sim_ann_ivfpq_filtered`): 2× the unfiltered budget. The
    * standard filtered-search dial — at ~1/7 selectivity each probed
    * cell contributes ~1/7 the candidates, so doubling the cells keeps
    * the expected candidate count (and therefore recall) near the
    * unfiltered path's while the TOTAL ADC work (6 cells × 14% of
    * rows ≈ 0.86× the unfiltered 3-cell scan) still shrinks. Measured
    * on the fixture: recall@5 vs filtered exact brute force 0.32 at 3
    * probes → 0.68/0.72 (sf0.001/sf0.01) at 6. Since round 15 this is
    * also the FLOOR of the planner-driven per-query budget
    * (`sim_ann_ivfpq_adaptive` consumes [[adaptiveProbeBudgets]]);
    * the static face keeps it as its whole budget. */
  private val IvfNProbeFiltered = 2 * IvfNProbe

  /** Graph-based ANN (`sim_ann_graph`, NSW-style): out-degree of the
    * directed kNN-ish graph, the symmetrized adjacency's degree cap
    * (2M — the HNSW discipline), beam width, fixed superstep count,
    * and the number of deterministic (seed-hash-ordered) entry
    * points. Sized so the probe budget — entries + ≤ beam·cap new
    * candidates per round, measured 171-185 scanned/query — matches
    * IVF probe3's 3-of-8-cells scan (~187/query on the 500-vector
    * fixture), making the 0.50 recall floor a like-for-like contract:
    * measured recall@5 0.60 (sf0.001) / 0.64 (sf0.01) vs 0.36 for the
    * asymmetric-M=8/beam-8/3-round shape first tried (in-links are
    * what make a near-uniform graph navigable). */
  private val GraphM = 8
  private val GraphDegCap = 16
  private val GraphBeam = 12
  private val GraphRounds = 4
  private val GraphEntries = 4

  // Product quantization: 8 subspaces of 8 dims, 4 codewords each,
  // 2 Lloyd rounds — 64 doubles compress to 8 codes (64x). Small k on
  // the near-uniform fixture; a real deployment uses k=256 per
  // subspace, which changes nothing structurally.
  private val PqSub = 8
  private val PqSubDim = 8
  private val PqK = 4

  /** Candidates surviving the Hamming prefilter into the exact rerank
    * (`sim_binary_rerank`) — 10× the k=5 answer size, the usual
    * binary-quantization oversampling ratio. */
  private val BqRerankC = 50

  /** Prefix dimensions stored by the Matryoshka-style cheap tier
    * (`sim_prefix_rerank`): half of [[Dim]] — the honest truncation
    * budget for UNTRAINED embeddings (information uniform per dim;
    * measured recall@5 0.68-0.76 at C=50 vs 0.44-0.64 for 16 dims).
    * A trained MRL model front-loads information and shrinks this. */
  private val MrlPrefixDim = 32

  private def embDouble(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("emb"))

  /** [[embDouble]] checkpointed: every consumer below derives its query
    * side from the same frame it scans as candidates (and IVF's Lloyd
    * rounds pass over it repeatedly) — without the barrier each use
    * re-inlines the parquet scan, and at 10^9 vectors the embedding
    * table is the IO. One small row per vector. */
  private def embCheckpointed(s: SparkSession, d: String): DataFrame =
    embDouble(s, d).pin()

  /** Exact cosine top-k for the 5 query vectors — the brute-force
    * baseline `sim_topk_bruteforce` exposes and `sim_ann_recall`
    * measures the ANN paths against. `e` must be a checkpointed
    * [[embDouble]] frame (all helpers below share one so a composite
    * query scans the table once).
    *
    * Ranking rides the bounded-buffer [[graft.functions.TopKAggregator]]
    * (score desc, id asc — the same total order as the window twin), so
    * the shuffle carries at most k rows per query instead of the whole
    * scored candidate set: at 10^9 vectors the window form would sort
    * O(n) rows per query partition in a single task. The window
    * formulation survives as [[exactTopKWindow]] / `sim_topk_window`,
    * sharing this query's oracle — a per-round equality proof. */
  private def exactTopK(s: SparkSession, e: DataFrame, k: Int,
      nq: Int = 5): DataFrame = {
    import s.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scoredPairs(s, e, nq)
      .groupBy($"query_id")
      .agg(topk($"cos_sim", $"vec_id").as("top"))
      .select($"query_id",
        posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
      .select($"query_id", ($"i" + 1).cast(LongType).as("rnk"),
        $"pair.ids".as("vec_id"), $"pair.scores".as("cos_sim"))
  }

  /** The scored (query × candidate) frame both exact-top-k forms rank. */
  private def scoredPairs(s: SparkSession, e: DataFrame,
      nq: Int = 5): DataFrame = {
    import s.implicits._
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
  }

  /** Window-ranked twin of [[exactTopK]] — the full-candidate
    * `row_number` form, kept (non-headline) purely as the equality
    * proof for the aggregator path: both share one oracle, so the
    * driver re-verifies their equivalence every round. */
  private def exactTopKWindow(s: SparkSession, e: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    scoredPairs(s, e)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk".cast(LongType).as("rnk"), $"vec_id", $"cos_sim")
  }

  /** LSH candidate set: each query's own bucket plus all hamming-1
    * neighbor buckets (multiprobe), scored. One row per scanned
    * (query, candidate) — `sim_ann_recall` counts these to price the
    * index against random scanning. */
  private def lshCandidates(s: SparkSession, eIn: DataFrame): DataFrame = {
    import s.implicits._
    val nPlanes = 6
    // bucket assignment is map-only arithmetic over the checkpointed
    // frame — both consumers recompute it from memory, never the scan
    val e = eIn.withColumn("bucket", lshBucket($"emb", nPlanes, Dim))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"), $"bucket".as("qbucket"))
    // multiprobe: the query's own bucket plus all hamming-1 neighbors
    val probes = q.withColumn("probe",
      explode(concat(array($"qbucket"),
        array((0 until nPlanes).map(j => $"qbucket".bitwiseXOR(lit(1L << j))): _*))))
    probes.join(e, $"probe" === $"bucket")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
  }

  /** Random-hyperplane LSH top-k with hamming-1 multiprobe (shared by
    * `sim_ann_lsh` and `sim_ann_recall`). */
  private def lshTopK(s: SparkSession, e: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    lshCandidates(s, e)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk".cast(LongType).as("rnk"), $"vec_id",
        $"cos_sim", $"bucket")
  }

  /** Engine-neutral seed-order hash: Knuth multiply mod the 1e9+7
    * prime — pure BIGINT arithmetic both engines evaluate identically
    * (the pre-reduction keeps the product inside a Long under ANSI),
    * unlike the xxhash64 it replaced, which DuckDB cannot reproduce. */
  private val seedHashSql = "((vec_id % 1000003) * 2654435761) % 1000000007"

  /** Bounded-degree neighbor graph for `sim_ann_graph` (the HNSW/NSW
    * family's base layer, Spark-shaped): candidate pairs come from the
    * SAME equality-join discipline as every other candidate generator —
    * each node probes its own LSH bucket plus the 6 hamming-1 flips,
    * so cross-bucket edges exist and the graph is navigable — and each
    * node keeps its top-[[GraphM]] out-neighbors by (cosine desc,
    * vec_id), which are then SYMMETRIZED (in-links added, the HNSW
    * discipline) and re-capped at [[GraphDegCap]] = 2M — on
    * near-uniform data the in-links are what make the graph navigable
    * (recall 0.36 → 0.60+ in the build A/B). 100 TB shape: one
    * bucketed equality join (never all-pairs) + two per-node bounded
    * windows; the edge list is ≤ n·2M rows, distributed on `u`.
    * Cosine is symmetric and the element fold order is identical in
    * both directions, so the reversed edge carries the identical
    * rounded score and the union dedups exactly. */
  private[operators] def graphEdges(s: SparkSession, eIn: DataFrame): DataFrame = {
    import s.implicits._
    val nPlanes = 6
    val e = eIn.withColumn("bucket", lshBucket($"emb", nPlanes, Dim))
    val probes = e.select($"vec_id".as("u"), $"emb".as("uemb"),
      explode(concat(array($"bucket"),
        array((0 until nPlanes).map(j =>
          $"bucket".bitwiseXOR(lit(1L << j))): _*))).as("probe"))
    val cand = probes.join(
        e.select($"vec_id".as("v"), $"emb".as("vemb"), $"bucket"),
        $"probe" === $"bucket")
      .filter($"u" =!= $"v")
      .withColumn("cs", round(cosine($"uemb", $"vemb"), 9))
    val w = Window.partitionBy($"u").orderBy($"cs".desc, $"v")
    val out = cand.withColumn("rn", row_number().over(w))
      .filter($"rn" <= GraphM)
      .select($"u", $"v", $"cs")
    val und = out
      .unionByName(out.select($"v".as("u"), $"u".as("v"), $"cs"))
      .distinct()
    und.withColumn("rn", row_number().over(w)).filter($"rn" <= GraphDegCap)
      .select($"u", $"v")
  }

  /** Persisted NSW edge artifact for `d`'s embeddings — the graph
    * sibling of [[pqPersistedModel]]: the bounded-degree neighbor
    * graph is an INDEX (a nightly build many searches share), not
    * per-query work, so the three graph headliners read it as parquet
    * instead of re-running the LSH-probe candidate join + two top-M
    * windows per query. Build determinism (round-9 cosines, fully
    * ordered windows, distinct on exact Longs) makes the persisted
    * (u, v) set bit-identical to a fresh [[graphEdges]] run
    * (SimilaritySpec gate), which is what lets every walk keep its
    * self-contained unrolled oracle: DuckDB rebuilds the graph from
    * the table and must land on exactly the persisted edges. Keyed by
    * (graph semantics, embeddings identity); same staging-rename
    * install and concurrent-builder safety as the PQ artifact.
    * `eFresh` supplies the checkpointed embeddings frame ONLY on a
    * build miss. */
  private[operators] def graphEdgesFor(
      s: SparkSession, d: String, eFresh: => DataFrame): DataFrame = {
    val dir = artifactDir(s, d, "embeddings.parquet", "nsw",
      s"fmt1|planes6|m$GraphM|cap$GraphDegCap|$planeRowsSql|$seedHashSql")
    ensureArtifact(s, dir, "nsw-graph")(successAt(s)) { stage =>
      graphEdges(s, eFresh).write.parquet(stage)
    }
    s.read.parquet(dir)
  }

  /** The plain one-_SUCCESS completeness predicate most artifacts use. */
  private[operators] def successAt(s: SparkSession): String => Boolean = {
    val hconf = s.sparkContext.hadoopConfiguration
    p => {
      val hp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      hp.getFileSystem(hconf).exists(hp)
    }
  }

  /** Flat NSW search: entry points are the [[GraphEntries]] smallest
    * seed-hash nodes (engine-reproducible), shared by every query; the
    * beam loop itself lives in [[graphBeamFrom]]. */
  private[operators] def graphBeamSearch(
      s: SparkSession, e: DataFrame,
      edgesIn: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import s.implicits._
    val q = graphQueries(s, e)
    // flat NSW: one global entry list, every query starts there
    val entries = e.select($"vec_id", expr(seedHashSql).as("h"))
      .orderBy($"h", $"vec_id").limit(GraphEntries).select($"vec_id")
    graphBeamFrom(s, e, q,
      q.select($"query_id").crossJoin(broadcast(entries)),
      edgesIn = edgesIn)
  }

  /** Hierarchical entry selection (HNSW's layered discipline with the
    * machinery the repo already has): the 8-row IVF centroid table is
    * the coarse layer — each query ranks the centroids (one broadcast
    * 8-row crossJoin, the multiprobe arithmetic) and enters the graph
    * at the [[GraphEntries]] smallest seed-hash nodes of its NEAREST
    * cell, instead of a fixed global entry list. At 10⁹ vectors the
    * fixed-entry beam pays a long random-walk prefix toward the query's
    * region; cell-local entries start the walk there. Probe budget is
    * MATCHED with the flat search (same entry count, beam, rounds —
    * the 8 centroid distances are index metadata, not corpus probes),
    * and the plan shape is identical past entry selection: frontier =
    * queries × beam × M, never corpus-sized.
    *
    * With `pred` this is the FILTERED search (`sim_ann_graph_filtered`):
    * the candidate predicate is pushed INTO the walk — entry points are
    * the [[GraphEntries]] smallest seed-hash PASSERS of the query's
    * nearest cell, and every round's expansion filters neighbor ids
    * against the predicate BEFORE any distance is computed, so the
    * beam width is spent entirely on survivors (post-filtering the
    * unfiltered walk keeps ~selectivity × beam rows — the under-return
    * SimilaritySpec demonstrates). The graph and IVF coarse layer stay
    * unfiltered shared index artifacts; only the query-time candidate
    * universe shrinks, so candidate work scales with selectivity. */
  private[operators] def graphBeamSearchHier(
      s: SparkSession, e: DataFrame,
      edgesIn: Option[DataFrame] = None,
      modelIn: Option[(DataFrame, DataFrame)] = None,
      pred: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val q = graphQueries(s, e)
    val (assigned, cents) = modelIn.getOrElse(ivfModel(s, e))
    val wCell = Window.partitionBy($"query_id")
      .orderBy($"dist".asc, $"centroid_id")
    val qcell = q.crossJoin(broadcast(cents))
      .withColumn("dist", l2sq($"qemb", $"cemb"))
      .withColumn("r", row_number().over(wCell)).filter($"r" === 1)
      .select($"query_id", $"centroid_id")
    val wEnt = Window.partitionBy($"query_id").orderBy($"h", $"vec_id")
    val entries = qcell
      .join(pred.fold(assigned)(assigned.filter).select($"vec_id",
        $"centroid_id", expr(seedHashSql).as("h")), Seq("centroid_id"))
      .withColumn("rn", row_number().over(wEnt))
      .filter($"rn" <= GraphEntries)
      .select($"query_id", $"vec_id")
    graphBeamFrom(s, e, q, entries, pred, edgesIn = edgesIn)
  }

  private def graphQueries(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
      .pin()
  }

  /** The shared fixed-round beam loop over [[graphEdges]], from a
    * per-query entry frame (query_id, vec_id) — the superstep-join
    * formulation of NSW greedy search (the `q_bfs_levels` machinery
    * with a scored, width-capped frontier). Each round expands the
    * beam by its out-neighbors, scores the union against the query,
    * and keeps the top-[[GraphBeam]] by (cosine desc, vec_id). Returns
    * (final ranked beam, every scored (query, candidate) pair
    * distinct) — the second frame is the probe-budget accounting
    * `sim_ann_recall` prices. Per-round cost is queries × beam × M
    * scored rows — never corpus-sized; each round's beam is
    * checkpointed so the iterative lineage stays flat. */
  private def graphBeamFrom(s: SparkSession, e: DataFrame,
      q: DataFrame, entries: DataFrame,
      candPred: Option[org.apache.spark.sql.Column] = None,
      edgesIn: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    import s.implicits._
    // AQE is OFF for the superstep loop's own actions (r17): every
    // frame the rounds materialize is bounded by queries × beam × M²
    // rows BY CONSTRUCTION — at any scale — so adaptive re-planning
    // has nothing to adapt, and its one-job-per-exchange scheduling
    // turned each ~2-exchange round into ~9 jobs (probe: 52 jobs for
    // the filtered walk, 0.5 s of task time). The joins that touch
    // corpus-sized frames inside score() broadcast the bounded side
    // explicitly, so no static-planning regression is possible. The
    // returned frames are LAZY — their consumers execute outside this
    // scope with the session's normal AQE setting. Scoped with
    // restore, not a session constant (guide §1.2: configuration
    // last, and only where the algorithm makes it safe).
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    def beamLoop(): (DataFrame, DataFrame) = {
    val edges = labeled(s, "beam: edges")(
      edgesIn.getOrElse(graphEdges(s, e)).pin())
    // With a predicate, the candidate UNIVERSE is the passers: a
    // neighbor failing it is dropped by this join BEFORE any distance
    // is computed, and the beam's width is spent on survivors only.
    // The graph itself stays the full shared index artifact — edges
    // are built once over everyone, the predicate is per-query.
    val universe = candPred.map(e.filter).getOrElse(e)
      .select($"vec_id", $"emb")
    def score(candIds: DataFrame): DataFrame =
      // candIds is bounded (queries × beam × M²) at any scale: an
      // EXPLICIT broadcast keeps the corpus-sized universe side
      // un-shuffled under static planning (AQE is off in this loop)
      broadcast(candIds).join(universe, Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
        .select($"query_id", $"vec_id", $"cos_sim")
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"vec_id")
    var beam = labeled(s, "beam: entries") { score(entries)
      .withColumn("rn", row_number().over(w)).filter($"rn" <= GraphBeam)
      .select($"query_id", $"vec_id", $"cos_sim")
      .pin() }
    // Scanned-pair accounting stays LAZY: only `sim_ann_recall` ever
    // executes it, but the r15 shape unioned+distinct'd+eagerly
    // checkpointed it EVERY round, charging the three top-k faces
    // (including the headline filtered walk) 2 jobs and a growing
    // distinct shuffle per round for a frame they never read (guide
    // §1.2: don't compute things you throw away). Each round's scored
    // frame hangs off that round's CHECKPOINTED beam, so the deferred
    // union's lineage stays flat; the one distinct at the end yields
    // the identical pair set the incremental distinct produced.
    val scannedParts = scala.collection.mutable.ArrayBuffer[DataFrame](beam)
    for (round <- 1 to GraphRounds) labeled(s, s"beam: round $round") {
      def hop(from: DataFrame): DataFrame =
        from.join(broadcast(edges), $"vec_id" === $"u")
          .select($"query_id", $"v".as("vec_id"))
      val hop1 = hop(beam.select($"query_id", $"vec_id"))
      // Under a predicate the passer-induced subgraph loses most of
      // its edges (effective degree ≈ deg × selectivity) and the
      // one-hop walk stalls; expanding THROUGH non-passing neighbors
      // to their neighbors (ACORN's two-hop discipline, Patel et al.
      // 2024) restores ~deg² × selectivity reachable passers per
      // round. The intermediate hop nodes are never scored — only id
      // routing; the universe join still drops every non-passer
      // before any distance. Cost stays queries × beam × M², corpus-
      // size-independent.
      val expand =
        if (candPred.isEmpty) hop1
        else hop1.unionByName(hop(hop1))
      val candIds = beam.select($"query_id", $"vec_id")
        .unionByName(expand).distinct()
      val scored = score(candIds)
      beam = scored
        .withColumn("rn", row_number().over(w)).filter($"rn" <= GraphBeam)
        .select($"query_id", $"vec_id", $"cos_sim")
        .pin()
      scannedParts += scored
    }
    val ranked = beam
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select($"query_id", $"rnk", $"vec_id", $"cos_sim")
    (ranked, scannedParts.reduce(_.unionByName(_)).distinct())
    }
    // The loop's exchange width is derived from the BOUNDED frames it
    // moves (≤ queries × beam × M² rows, queries ≤ 5 by the operator's
    // own definition) — 8 partitions is the right width for a 5-key
    // window on any cluster; without AQE's coalescer the session-wide
    // 2×cores default would run 32+ near-empty tasks per exchange
    // (probe: 389 tasks vs 60). Scoped with restore.
    val partsWas = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try beamLoop()
    finally {
      s.conf.set("spark.sql.adaptive.enabled", aqeWas)
      s.conf.set("spark.sql.shuffle.partitions", partsWas)
    }
  }

  /** IVF build exposing both faces of the index: the final cell
    * assignment (vec_id, label, emb, centroid_id) AND the final 8-row
    * centroid table (the multiprobe path ranks cells by distance
    * against it) — k-means cells from deterministic seeds + 3 Lloyd
    * rounds. Every arithmetic step is engine-reproducible — seed order
    * is a pure BIGINT hash, and the per-dimension means are
    * decimal-exact (values quantized to 7 digits, summed as DECIMAL —
    * associative — then one double division, rounded to 6), so a SQL
    * engine can rebuild the exact centroids and assignments: that is
    * what makes `sim_ann_ivf`'s oracle self-contained. */
  private[operators] def ivfModel(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    // Lloyd rounds pass over the vectors once per round — from the
    // caller's checkpointed frame, not a fresh parquet scan per round
    def assignTo(cents: DataFrame): DataFrame = {
      val wAssign = Window.partitionBy($"vec_id")
        .orderBy($"dist".asc, $"centroid_id")
      e.crossJoin(broadcast(cents))
        .withColumn("dist", l2sq($"emb", $"cemb"))
        .withColumn("r", row_number().over(wAssign))
        .filter($"r" === 1)
        .select($"vec_id", $"label", $"emb", $"centroid_id")
    }
    // deterministic spread seeds: 8 smallest hash-ordered ids
    var cents = e.orderBy(expr(seedHashSql), $"vec_id").limit(8)
      .select(row_number().over(Window.orderBy($"vec_id")).as("centroid_id"),
        $"emb".as("cemb"))
    for (lloydRound <- 1 to 3) labeled(s, s"ivf: lloyd $lloydRound") {
      // checkpoint each round's 8-row centroid table: without the
      // barrier every later round (and both consumers of the final
      // assignment) would re-execute the whole nested Lloyd lineage,
      // re-scanning the base table several-fold
      cents = assignTo(cents)
        .select($"centroid_id", posexplode($"emb").as(Seq("pos", "v")))
        .groupBy($"centroid_id", $"pos")
        .agg(round(
          sum(round($"v", 7).cast(DecimalType(27, 7))).cast(DoubleType) /
            count(lit(1)), 6).as("m"))
        .groupBy($"centroid_id")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          s => s.getField("m")).as("cemb"))
        .pin()
    }
    (labeled(s, "ivf: assign")(assignTo(cents).pin()), cents)
  }

  /** Multiprobe IVF candidates: each query scans its `nprobe` nearest
    * cells (distance to the final centroids, tie-broken by centroid id —
    * the same total order as the assignment argmin, so probe #1 IS the
    * query's own cell). Still an equality join on centroid_id: the
    * probe fan-out multiplies only the 8-row broadcast side, never the
    * corpus — the shape that holds at 10^9 vectors. Each vector lives
    * in exactly one cell, so probes never produce duplicate candidates. */
  private def ivfProbedCandidates(s: SparkSession, assigned: DataFrame,
      cents: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    val q = assigned.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"cdist".asc, $"centroid_id")
    // 5 queries × 8 cells: driver-trivial, executes inside the broadcast
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist", l2sq($"qemb", $"cemb"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= nprobe)
      .select($"query_id", $"qemb", $"centroid_id".as("pcell"))
    broadcast(probes).join(assigned, $"pcell" === $"centroid_id")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
  }

  /** Exact radius search over an [[ivfModel]]: returns every
    * (query, vec, d²) with round-9 d² ≤ r², scanning ONLY cells the
    * query ball can intersect (triangle inequality over per-cell
    * radii, 1e-6 conservative margin — pruning can admit extra
    * candidates, never drop an answer). `sim_range_search`'s plan;
    * SimilaritySpec drives it on a clustered fixture where most cells
    * genuinely prune. Exposes the kept (query, cell) probe table via
    * `onProbes` for the spec's pruning gate (null = no-op). */
  private[operators] def rangeSearch(
      model: (DataFrame, DataFrame), r2: Double,
      onProbes: DataFrame => Unit = null,
      candPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (assigned, cents) = model
    val s = assigned.sparkSession
    import s.implicits._
    val r = math.sqrt(r2)
    // With a predicate, the candidate universe is the PASSERS, and so
    // are the per-cell radii: a tighter radius over passers only can
    // prune cells whose passing members all sit near the centroid even
    // when non-passing members sprawl — still zero recall risk, since
    // every candidate the filtered answer may contain is priced into
    // its cell's (filtered) radius. A cell with NO passers drops out
    // of the radii inner join entirely. Queries stay unfiltered.
    val cand = candPred.map(assigned.filter).getOrElse(assigned)
    val radii = cand.join(broadcast(cents), Seq("centroid_id"))
      .groupBy($"centroid_id")
      .agg(max(sqrt(l2sq($"emb", $"cemb"))).as("radius"))
    val q = assigned.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    val kept = q.crossJoin(broadcast(cents.join(radii, Seq("centroid_id"))))
      .filter(sqrt(l2sq($"qemb", $"cemb")) <= lit(r) + $"radius" + lit(1e-6))
      .select($"query_id", $"qemb", $"centroid_id".as("pcell"))
      .pin() // tiny; the probe gate and the scan both read
    if (onProbes != null) onProbes(kept.select($"query_id", $"pcell"))
    broadcast(kept).join(cand, $"pcell" === $"centroid_id")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("d2", round(l2sq($"qemb", $"emb"), 9))
      .filter($"d2" <= r2)
      .select($"query_id", $"vec_id", $"d2")
      .orderBy($"query_id", $"vec_id")
  }

  /** Exact similarity JOIN between the even- and odd-id vector sets:
    * every cross pair with round-9 d² ≤ r², scanning ONLY cell PAIRS
    * the bound d(cᵢ, cⱼ) ≤ r + radᵢ + radⱼ (+1e-6 margin) admits —
    * the set×set face of [[rangeSearch]]'s metric-tree pruning, and
    * the exact-answer alternative to LSH similarity joins. Per-side
    * per-cell radii are one map-side-combined max; the cell-pair
    * table is k², broadcast-scale metadata. `onCellPairs` exposes the
    * kept pairs for the spec's pruning gate (null = no-op). */
  private[operators] def rangeJoin(
      model: (DataFrame, DataFrame), r2: Double,
      onCellPairs: DataFrame => Unit = null): DataFrame = {
    val (assigned, cents) = model
    val s = assigned.sparkSession
    import s.implicits._
    val r = math.sqrt(r2)
    val tagged = assigned
      .withColumn("side", pmod($"vec_id", lit(2L)))
      .pin() // radii + both scan sides read it
    val radii = tagged.join(broadcast(cents), Seq("centroid_id"))
      .groupBy($"centroid_id", $"side")
      .agg(max(sqrt(l2sq($"emb", $"cemb"))).as("radius"))
    val ra = radii.filter($"side" === 0L)
      .select($"centroid_id".as("ci"), $"radius".as("rad_a"))
    val rb = radii.filter($"side" === 1L)
      .select($"centroid_id".as("cj"), $"radius".as("rad_b"))
    val kept = cents.select($"centroid_id".as("ci"), $"cemb".as("ca"))
      .join(ra, Seq("ci")) // inner: a cell with no members can't match
      .crossJoin(broadcast(
        cents.select($"centroid_id".as("cj"), $"cemb".as("cb"))
          .join(rb, Seq("cj"))))
      .filter(sqrt(l2sq($"ca", $"cb")) <= lit(r) + $"rad_a" + $"rad_b"
        + lit(1e-6))
      .select($"ci", $"cj")
      .pin() // k²-bounded; the gate and the scan read it
    if (onCellPairs != null) onCellPairs(kept)
    val left = tagged.filter($"side" === 0L)
      .select($"vec_id".as("a_id"), $"emb".as("a_emb"),
        $"centroid_id".as("ci"))
    val right = tagged.filter($"side" === 1L)
      .select($"vec_id".as("b_id"), $"emb".as("b_emb"),
        $"centroid_id".as("cj"))
    left.join(broadcast(kept), Seq("ci"))
      .join(right, Seq("cj"))
      .withColumn("d2", round(l2sq($"a_emb", $"b_emb"), 9))
      .filter($"d2" <= r2)
      .select($"a_id", $"b_id", $"d2")
      .orderBy($"a_id", $"b_id")
  }

  /** Cell-restricted scored candidates over an [[ivfModel]] assignment —
    * one scored row per scanned (query, candidate). */
  private def ivfCandidatesFrom(s: SparkSession, assigned: DataFrame): DataFrame = {
    import s.implicits._
    val q = assigned.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"),
        $"centroid_id".as("qcell"))
    broadcast(q).join(assigned, $"qcell" === $"centroid_id")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
  }

  /** IVF top-k over an [[ivfModel]] assignment (`sim_ann_ivf`). */
  private def ivfTopKFrom(s: SparkSession, assigned: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val wRank = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    ivfCandidatesFrom(s, assigned)
      .withColumn("rnk", row_number().over(wRank))
      .filter($"rnk" <= k)
      .select($"query_id", $"qcell", $"rnk".cast(LongType).as("rnk"),
        $"vec_id", $"cos_sim")
  }

  /** Self-contained value oracle for `sim_ann_ivf`: the whole k-means
    * build unrolls into SQL — hash-ordered seeds, then 3 Lloyd rounds
    * of (argmin assignment, decimal-exact per-dimension means), then
    * the final assignment, cell-restricted scan, and ranking. Distances
    * compare as doubles computed by the identical left-to-right fold
    * on both engines; centroid values are bit-identical because every
    * mean is quantized decimal arithmetic (see [[ivfModel]]).
    * No side state: an earlier sidecar-parquet design could pair the
    * oracle with a stale export when another invocation interleaved. */
  // ──────────────────── product quantization (PQ) ────────────────────

  /** Exploded subvectors (vec_id, sub, semb): PqSub rows per vector,
    * map-only from the checkpointed embedding frame. */
  private def pqSubvectors(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val subs = (0 until PqSub).map(i => struct(lit(i).as("sub"),
      slice($"emb", i * PqSubDim + 1, PqSubDim).as("semb")))
    e.select($"vec_id", explode(array(subs: _*)).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.semb".as("semb"))
  }

  /** PQ model: per-subspace k-means codebooks plus the final code
    * assignment — the storage-side compression IVF's cells pair with in
    * a billion-scale ANN index (64 doubles → PqSub codes). Same
    * engine-reproducible discipline as [[ivfModel]] (hash-ordered
    * seeds, argmin tie-broken by code id, decimal-exact means quantized
    * to 6 digits), so the entire build unrolls into oracle SQL
    * ([[pqBuildCtes]]). All subspaces train in the SAME plan — `sub` is
    * a grouping column, so each Lloyd round is one pass over the
    * exploded subvectors covering every subspace at once, and only the
    * PqSub×PqK codebook ever sits driver-side of a broadcast.
    * Returns (codes = (vec_id, sub, semb, code),
    *          codebooks = (sub, code, cemb)). */
  private def pqModel(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val sv = pqSubvectors(s, e).pin()
    // argmin as a per-(vec, sub) window: the group is BOUNDED at PqK
    // rows by construction (one per codeword), so this is not a
    // full-candidate sort — it parallelizes on a high-cardinality key.
    // A/B note: min(struct(dist, code, semb)) as a hash aggregate
    // measured ~0.6 s SLOWER at sf0.1 (the struct ordering drags the
    // 8-double array through every comparison, off codegen).
    def assignTo(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy($"vec_id", $"sub").orderBy($"dist".asc, $"code")
      sv.join(broadcast(cents), Seq("sub"))
        .withColumn("dist", l2sq($"semb", $"cemb"))
        .withColumn("r", row_number().over(w))
        .filter($"r" === 1)
        .select($"vec_id", $"sub", $"semb", $"code")
    }
    // seeds: every subspace uses the subvectors of the same PqK
    // hash-ordered vectors (spread, reproducible)
    val seedIds = e.orderBy(expr(seedHashSql), $"vec_id").limit(PqK)
      .select(row_number().over(Window.orderBy($"vec_id")).as("code"), $"vec_id")
    var cents = sv.join(broadcast(seedIds), Seq("vec_id"))
      .select($"sub", $"code", $"semb".as("cemb"))
      .pin()
    for (_ <- 1 to 2) {
      cents = assignTo(cents)
        .select($"sub", $"code", posexplode($"semb").as(Seq("pos", "v")))
        .groupBy($"sub", $"code", $"pos")
        .agg(round(
          sum(round($"v", 7).cast(DecimalType(27, 7))).cast(DoubleType) /
            count(lit(1)), 6).as("m"))
        .groupBy($"sub", $"code")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          x => x.getField("m")).as("cemb"))
        .pin()
    }
    (assignTo(cents).pin(), cents)
  }

  /** Deployment-shaped PQ artifact: the codebook + code assignments
    * persisted as parquet, built once per (sf dir, build semantics) and
    * reused by every later query — the economics a real ANN serving
    * path has, where the index build is a nightly job and searches are
    * the hot path ([[pqModel]]'s in-query build priced ~1.9 s of
    * `sim_ann_pq_adc`'s sf0.1 median; the search itself is ~0.3 s).
    *
    * The artifact key hashes [[pqBuildCtes]] — the complete statement
    * of the build semantics (dims, k, seeds, quantization) — so any
    * change to the build auto-invalidates the cached artifact instead
    * of silently pairing new search code with stale codebooks. Build
    * determinism (hash-ordered seeds, decimal-quantized means) makes
    * the persisted artifact bit-identical to a fresh [[pqModel]] run,
    * which is what lets `sim_ann_pq_search` share the self-contained
    * unrolled oracle: DuckDB rebuilds the codebook from the table and
    * must land on exactly the persisted values.
    *
    * Codes persist WITHOUT the raw subvectors — wide (vec_id, codes
    * array<int>) rows, 64 doubles → 8 small ints per vector. That is
    * the point of PQ storage: at 10^9 vectors the search tier holds
    * codes + the PqSub×PqK codebook, never the embeddings.
    *
    * A/B history (sf0.1, medians of 3): round 5 tried a wide layout
    * with a per-candidate decimal `aggregate` HOF fold — map-only in
    * shape but 1.01 s vs 0.62 s for the long layout's codegen'd
    * broadcast-hash join + map-side partial SUM, because decimal HOFs
    * run interpreted. Round 6 made the map-only shape win by replacing
    * the HOF with the native codegen'd [[graft.functions.PqAdcSum]]
    * (exact scaled-long fold, bit-identical doubles): no (sub, code)
    * join, no (query, vec) aggregation exchange — at 10^9 vectors that
    * exchange carries Q×N rows, the dominant search cost — and only
    * the ≤k-per-query top-k shuffle remains. Same-session A/B (sf0.1,
    * 7-rep medians, one machine state): join path 1.22 s → map-only
    * fold 1.04 s → + coordinator-side LUT ([[pqQueryLutWide]]) 0.91 s,
    * with the plan down from three hash exchanges to one.
    *
    * Concurrent builders are safe: each builds in a process-unique
    * staging dir and RENAMES it into the keyed path (first rename
    * wins, losers discard their staging copy), so a reader that has
    * already passed the `_SUCCESS` check can never have parquet files
    * deleted out from under its scan — deterministic content makes
    * either winner's bytes identical. Stale `pq_*` siblings (left by
    * testdata regeneration changing the key) are TTL-pruned
    * best-effort after a successful build. */
  private def pqArtifactDir(s: SparkSession, d: String): String = {
    // key = build semantics + source-table identity ([[sourceIdentity]]):
    // regenerated testdata or changed build code both miss the cache
    // instead of pairing with a stale codebook.
    // "fmt4" = wide codes layout (vec_id, codes array<int> ordered by
    // sub) — one row per vector, the shape the map-only ADC search
    // consumes directly ([[pqCodesLong]] derives the long form without
    // a shuffle); bump on any artifact-format change so old layouts
    // can't be misread
    val key = s"fmt4|$pqBuildCtes|$d|${sourceIdentity(s, d, "embeddings.parquet")}"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"${Tuning.artifactsRoot(s)}/pq_$digest"
  }

  /** Read the persisted PQ artifact for `d`, building it first if (and
    * only if) absent. Returns (codes = (vec_id, codes: array&lt;int&gt;
    * ordered by sub), codebooks = (sub, code, cemb)) backed by
    * parquet — consumers get pruned columnar scans of the tiny tables,
    * not the build plan. */
  private[graft] def pqPersistedModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val dir = pqArtifactDir(s, d)
    val codesPath = s"$dir/codes.parquet"
    val booksPath = s"$dir/codebook.parquet"
    val hconf = s.sparkContext.hadoopConfiguration
    def complete(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      hp.getFileSystem(hconf).exists(hp)
    }
    def builtAt(root: String): Boolean =
      complete(s"$root/codes.parquet") && complete(s"$root/codebook.parquet")
    if (!builtAt(dir)) {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(hconf)
      // stage → atomic rename: never delete/overwrite the keyed path a
      // reader may already be scanning (see scaladoc above)
      installArtifact(fs, dirPath, "PQ")(builtAt) { stage =>
        val (codes, books) = pqModel(s, embCheckpointed(s, d))
        books.write.mode("overwrite").parquet(s"$stage/codebook.parquet")
        // wide: one row per vector, codes ordered by sub — the build
        // pays this one groupBy so every search is a map-only scan
        codes.select($"vec_id", struct($"sub", $"code").as("sc"))
          .groupBy($"vec_id")
          .agg(array_sort(collect_list($"sc")).as("sc"))
          .select($"vec_id", transform($"sc", x => x.getField("code")).as("codes"))
          .write.mode("overwrite").parquet(s"$stage/codes.parquet")
      }
    }
    (s.read.parquet(codesPath), s.read.parquet(booksPath))
  }

  /** Source-table identity for artifact cache keys. A parquet "table"
    * is a DIRECTORY, and keying on the directory's own status is
    * unsound off the local filesystem (round-13 ADVICE): object-store
    * directory statuses are synthetic (len 0, mtime 0), so regenerating
    * the table there would never change the key and a stale index would
    * be served silently; even local dir-mtime has coarse granularity.
    * Key on the CONTENTS listing instead — sorted child
    * name:length:mtime triples — which changes whenever any data file
    * is rewritten. A plain-file source keeps its own (mtime, len).
    * Identity always comes from the Hadoop FileSystem, not java.io —
    * a java.io stat of an hdfs:// or s3a:// path silently reads (0, 0);
    * getFileStatus/listStatus also throw loudly when the source is
    * absent instead of caching a 0|0 key.
    *
    * The listing is RECURSIVE (round-14 ADVICE): for a PARTITIONED
    * source on an object store the one-level children are synthetic
    * directories (len 0, mtime 0), so a one-level listing would never
    * change when data is regenerated under unchanged partition names —
    * the same stale-key class this helper exists to close for flat
    * dirs. Keying on the LEAF-file triples (path relative to the
    * source root, so a file moving between partitions changes the key
    * too) makes the identity sound for any directory layout. */
  /** Test probe hooks (StreamingAnnServeSpec's hoisting gate — round-15
    * verdict #1): monotone counters bumped by [[sourceIdentity]] and
    * [[passerCensus]], so a spec can prove that serving a micro-batch
    * performs NO source-corpus listing and NO inverted-list census
    * after stream start — the two frozen-index invariants that were
    * being recomputed per batch. Cost: one atomic increment on paths
    * that do filesystem listings / full-artifact aggregates anyway. */
  private[graft] val sourceIdentityCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] val passerCensusCalls = new java.util.concurrent.atomic.AtomicLong

  private[operators] def sourceIdentity(s: SparkSession, d: String,
      srcFile: String): String = {
    sourceIdentityCalls.incrementAndGet()
    val srcPath = new org.apache.hadoop.fs.Path(d, srcFile)
    val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(srcPath)
    if (!st.isDirectory) s"${st.getModificationTime}|${st.getLen}"
    else {
      val rootUri = st.getPath.toUri
      val it = fs.listFiles(srcPath, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val c = it.next()
        val rel = rootUri.relativize(c.getPath.toUri).getPath
        entries += s"$rel:${c.getLen}:${c.getModificationTime}"
      }
      entries.sorted.mkString(",")
    }
  }

  /** Keyed artifact directory under the shared root
    * ([[graft.Tuning.artifactsRoot]] — `spark.graft.artifactsRoot`;
    * default local tmpdir, a cluster points it at shared storage) —
    * the ONE place that states the keying policy (round-13 review: six
    * copies had grown): `semantics` must be the complete build
    * statement (so any build change misses the cache), and the source
    * table's identity is its contents listing ([[sourceIdentity]]). */
  private[operators] def artifactDir(s: SparkSession, d: String,
      srcFile: String, kind: String, semantics: String): String = {
    val key = s"$semantics|$d|${sourceIdentity(s, d, srcFile)}"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"${Tuning.artifactsRoot(s)}/${kind}_$digest"
  }

  /** Resolve-or-build: returns once `completeAt(dir)` holds, building
    * through [[installArtifact]] on a miss. */
  private[operators] def ensureArtifact(s: SparkSession, dir: String,
      what: String)(completeAt: String => Boolean)(
      build: String => Unit): Unit =
    if (!completeAt(dir)) {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      installArtifact(fs, dirPath, what)(completeAt)(build)
    }

  /** Stage → atomic-rename install shared by the artifact builders: the
    * keyed path is never deleted/overwritten while a reader may be
    * scanning it (see [[pqPersistedModel]]'s scaladoc for the race
    * analysis). `completeAt` judges an artifact rooted at the GIVEN
    * path — path-parameterized so the displaced-occupant re-check
    * below can run on the moved dir itself. */
  private[operators] def installArtifact(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, what: String)(
      completeAt: String => Boolean)(
      writeTo: String => Unit): Unit = {
    val stage = new org.apache.hadoop.fs.Path(
      dirPath.toString + "_stage_" + java.util.UUID.randomUUID().toString.take(8))
    writeTo(stage.toString)
    fs.mkdirs(dirPath.getParent)
    if (!fs.rename(stage, dirPath)) {
      // destination occupied: a concurrent builder won with a
      // complete artifact (keep theirs — readers may hold it), or a
      // crashed legacy/partial writer left an incomplete dir (no
      // reader can have passed the completeness check on it).
      // An incomplete occupant is DISPLACED by rename — never
      // deleted in place (round-13 review): the old check-then-delete
      // could destroy an artifact a concurrent builder completed
      // between the check and the delete, yanking files from under a
      // reader that had already passed its completeness check. The
      // rename is atomic, so exactly one process owns the displaced
      // dir — and if it turns out to have become complete, it is
      // atomically put back (or dropped if a third builder installed
      // meanwhile: deterministic builds make all copies byte-equal).
      // Shrink the displacement window (round-13 ADVICE): a concurrent
      // builder may COMPLETE the occupant between the outer check and
      // the rename below — re-check completeness immediately before
      // displacing, so a reader that just passed its own completeness
      // check has the narrowest possible window in which its files
      // could be renamed away. And when a displaced dir turns out to
      // have become complete but cannot be put back (a third builder
      // installed meanwhile), LEAVE it for pruneStaleArtifacts' 24 h
      // TTL instead of deleting inline — a reader that resolved file
      // paths under the old name may still be scanning them; the TTL
      // outlives any live query. Only a displaced dir that is
      // INCOMPLETE under its new name (no reader can have passed the
      // completeness check on it) is deleted eagerly.
      if (!completeAt(dirPath.toString)) {
        val stale = new org.apache.hadoop.fs.Path(dirPath.toString +
          "_stale_" + java.util.UUID.randomUUID().toString.take(8))
        if (!completeAt(dirPath.toString) && fs.rename(dirPath, stale)) {
          if (completeAt(stale.toString)) {
            if (!fs.rename(stale, dirPath)) () // leave for TTL prune
          } else fs.delete(stale, true)
        }
        if (!fs.rename(stage, dirPath) && !completeAt(dirPath.toString))
          throw new java.io.IOException(
            s"could not install $what artifact at $dirPath")
      }
      fs.delete(stage, true)
    }
    pruneStaleArtifacts(fs, dirPath)
  }

  /** Best-effort TTL prune of sibling artifact dirs with the SAME kind
    * prefix as `current` (`pq_*`, `ivfpq_*`, …) under the shared
    * artifacts root — testdata regeneration changes the cache key, and
    * without this the orphaned old-key dirs accumulate in tmpdir
    * unboundedly. The TTL (`spark.graft.artifactTtlHours`, default 24)
    * keeps anything a live process could still be reading or staging —
    * a deployment whose longest query exceeds a day raises it. */
  private[operators] def pruneStaleArtifacts(
      fs: org.apache.hadoop.fs.FileSystem,
      current: org.apache.hadoop.fs.Path): Unit =
    try {
      val ttlHours = SparkSession.getActiveSession
        .map(_.conf.get("spark.graft.artifactTtlHours", "24").toLong)
        .getOrElse(24L)
      val prefix = current.getName.substring(0, current.getName.lastIndexOf('_') + 1)
      val cutoff = System.currentTimeMillis() - ttlHours * 3600 * 1000
      fs.listStatus(current.getParent).foreach { st =>
        if (prefix.nonEmpty && st.getPath.getName.startsWith(prefix) &&
            st.getPath != current && st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.IOException => () }

  /** Keyed location of the IVF+PQ artifact — same discipline as
    * [[pqArtifactDir]]: the key states the COMBINED build semantics
    * (both unrolled chains) plus the source table's identity, so a
    * change to either index build, or regenerated testdata, misses the
    * cache instead of pairing stale pieces. */
  private def ivfpqArtifactDir(s: SparkSession, d: String): String = {
    // fmt3: the attribute column (label) rides the inverted list — the
    // filtered-search deployment shape (see ivfpqPersistedModel)
    val key = s"fmt3|$ivfBuildChain|$pqBuildChain|$d|${sourceIdentity(s, d, "embeddings.parquet")}"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"${Tuning.artifactsRoot(s)}/ivfpq_$digest"
  }

  /** Deployment-shaped IVF+PQ artifact: the INVERTED-FILE layout a
    * billion-scale ANN serving tier actually holds (the FAISS
    * IVFADC/IVF-PQ structure) — every vector's PQ codes stored WITH
    * its IVF cell assignment, the table PARTITIONED BY CELL so each
    * cell's rows are one directory (= one inverted list: a probe reads
    * only its cells' files and the scan prunes the rest), plus the
    * 8-row centroid table the coordinator ranks probes against.
    * Returns (cells = (vec_id, codes: array&lt;int&gt;, label,
    * centroid_id [partition col]), centroids = (centroid_id, cemb)).
    *
    * The ATTRIBUTE column (`label`) is stored WITH the codes — the
    * filtered-search deployment shape: a predicate evaluates inside
    * the inverted-list scan with no corpus join, which is how
    * metadata-filtered ANN tiers actually serve "nearest WHERE …"
    * (`sim_ann_ivfpq_filtered`); unfiltered consumers never read the
    * column (parquet prunes it).
    *
    * Composes the two existing deterministic builds — the persisted PQ
    * codes ([[pqPersistedModel]]) joined to the IVF assignment
    * ([[ivfModelFor]]) — so DuckDB's from-scratch rebuild of BOTH
    * chains must land on exactly the persisted values; the raw
    * embeddings never enter the artifact. */
  private[graft] def ivfpqPersistedModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val dir = ivfpqArtifactDir(s, d)
    val cellsPath = s"$dir/cells.parquet"
    val centsPath = s"$dir/centroids.parquet"
    val hconf = s.sparkContext.hadoopConfiguration
    def complete(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      hp.getFileSystem(hconf).exists(hp)
    }
    def builtAt(root: String): Boolean =
      complete(s"$root/cells.parquet") && complete(s"$root/centroids.parquet")
    if (!builtAt(dir)) {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(hconf)
      installArtifact(fs, dirPath, "IVF+PQ")(builtAt) { stage =>
        val (codesWide, _) = pqPersistedModel(s, d)
        val (assigned, cents) = ivfModelFor(s, d)
        cents.write.mode("overwrite").parquet(s"$stage/centroids.parquet")
        assigned.select($"vec_id", $"centroid_id")
          .join(codesWide, Seq("vec_id"))
          .join(Tables.embeddings(s, d)
            .select($"vec_id", $"label".cast(LongType).as("label")),
            Seq("vec_id"))
          // one COMPACT file per cell: the inverted list a serving
          // tier holds, not 32 shuffle shards per partition dir
          .repartition($"centroid_id")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(s"$stage/cells.parquet")
      }
    }
    (s.read.parquet(cellsPath), s.read.parquet(centsPath))
  }

  /** Ranked probe list for the 5-query batch against the persisted
    * centroid table — (query_id, centroid_id, pr) with pr the distance
    * rank (centroid_id tiebreak), collected coordinator-side: the
    * O(queries × cells) probe table every ANN serving coordinator
    * holds (the [[pqQueryLutWide]] precedent). */
  private[operators] def probeRanking(s: SparkSession, d: String,
      cents: DataFrame): Array[(Long, Int, Int)] = {
    import s.implicits._
    probeRankingFor(s, cents, embDouble(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb")))
  }

  /** [[probeRanking]] for an arbitrary query frame (query_id, qemb). */
  private[graft] def probeRankingFor(s: SparkSession, cents: DataFrame,
      q: DataFrame): Array[(Long, Int, Int)] = {
    import s.implicits._
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"cdist".asc, $"centroid_id")
    q.crossJoin(broadcast(cents))
      .withColumn("cdist", l2sq($"qemb", $"cemb"))
      .withColumn("pr", row_number().over(wProbe))
      .select($"query_id", $"centroid_id", $"pr")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
  }

  /** The chosen (query_id, centroid_id, pr) probes as the partition
    * list to scan and the broadcast (query_id, centroid_id) pairs. */
  private def probeSet(s: SparkSession,
      chosen: Array[(Long, Int, Int)]): (Seq[Int], DataFrame) = {
    import s.implicits._
    (chosen.map(_._2).distinct.toSeq,
      chosen.map { case (qid, cell, _) => (qid, cell) }
        .toSeq.toDF("query_id", "centroid_id"))
  }

  /** Per-query probe budgets by the PLANNER arithmetic
    * (`sim_filtered_probe_plan` — round-14 verdict #1: the filtered
    * search now CONSUMES the budget the planner derives instead of
    * stopping at the static [[IvfNProbeFiltered]] constant): walk
    * cells in query-distance order until the scan covers at least the
    * passer fraction the unfiltered [[IvfNProbe]]-cell scan covers of
    * the whole corpus AND at least k passers. The static 2× constant
    * stays as the FLOOR (never probe fewer than the calibrated dial);
    * ALL cells are the fallback when no prefix is adequate (a
    * predicate with fewer than k passers anywhere). Exact integer
    * cross-multiplication on the cells' passer census — identical
    * arithmetic to the planner's oracle, so both engines (and the
    * planner face itself) pick the same budgets. Coordinator cost:
    * one map-side-combined census of two pruned columns (O(cells)
    * rows) plus arithmetic on the probe table the coordinator already
    * holds. Under a predicate concentrated in far cells the budget
    * grows per query exactly where the constant under-returns
    * (SimilaritySpec's adversarial gate); under a cell-uniform one it
    * stays at the floor and the plan is byte-identical to the static
    * face's. */
  private[operators] def adaptiveProbeBudgets(s: SparkSession, d: String,
      pred: org.apache.spark.sql.Column, k: Int = 5): Map[Long, Int] = {
    val (cells, cents) = ivfpqPersistedModel(s, d)
    plannerBudgets(s, cells, probeRanking(s, d, cents), pred, k)
  }

  /** The per-query cumulative probe walk both distributed planner
    * faces read (`sim_filtered_probe_plan`, `sim_filtered_strategy`):
    * the probe ranking joined to the passer census, with running and
    * total row/passer counts, the joined cell count, and the
    * unfiltered [[IvfNProbe]]-scan row baseline. One tiny frame
    * (queries × cells); `checkpoint` pins it for callers that read it
    * more than once (the strategy face does; the probe-plan face is a
    * single pass and skips the eager job — the bench is job-overhead
    * bound). The collected-side twin of this arithmetic is
    * [[plannerBudgets]]. */
  private def probePlanCum(s: SparkSession, d: String,
      pred: org.apache.spark.sql.Column,
      checkpoint: Boolean): DataFrame = {
    import s.implicits._
    val (cells, cents) = ivfpqPersistedModel(s, d)
    val census = cells.groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(pred, 1L).otherwise(0L)).as("n_pass"))
    val q = embDouble(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"cdist".asc, $"centroid_id")
    val ranked = q.crossJoin(broadcast(cents))
      .withColumn("cdist", l2sq($"qemb", $"cemb"))
      .withColumn("pr", row_number().over(wProbe))
      .join(broadcast(census), Seq("centroid_id"))
    val wCum = Window.partitionBy($"query_id").orderBy($"pr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"query_id")
    val cum = ranked
      .withColumn("cum_rows", sum($"n_rows").over(wCum))
      .withColumn("cum_pass", sum($"n_pass").over(wCum))
      .withColumn("t_rows", sum($"n_rows").over(wAll))
      .withColumn("t_pass", sum($"n_pass").over(wAll))
      .withColumn("n_cells", count(lit(1)).over(wAll))
      .withColumn("uf_rows",
        max(when($"pr" === IvfNProbe, $"cum_rows")).over(wAll))
    if (checkpoint) cum.pin() else cum
  }

  /** The per-cell (n_rows, n_pass) passer census of the inverted-list
    * artifact under `pred` — the O(cells)-row scan+aggregate the
    * planner arithmetic reads. For a FROZEN index and a fixed
    * predicate this is batch-invariant: a serving tier computes it
    * ONCE at stream start and closes over the tiny map
    * ([[graft.streaming.StreamingAnnServe]] — round-15 verdict #1:
    * recomputing it per micro-batch is O(corpus) per batch at 10^9
    * vectors). */
  private[graft] def passerCensus(cells: DataFrame,
      pred: org.apache.spark.sql.Column): Map[Int, (Long, Long)] = {
    passerCensusCalls.incrementAndGet()
    val s = cells.sparkSession
    import s.implicits._
    cells.groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(pred, 1L).otherwise(0L)).as("n_pass"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  /** The planner arithmetic of [[adaptiveProbeBudgets]] on an
    * already-collected probe ranking — so a caller that also runs the
    * search computes the ranking (and resolves the artifacts) ONCE. */
  private[graft] def plannerBudgets(s: SparkSession, cells: DataFrame,
      ranking: Array[(Long, Int, Int)],
      pred: org.apache.spark.sql.Column, k: Int = 5): Map[Long, Int] =
    plannerBudgetsOnCensus(passerCensus(cells, pred), ranking, k)

  /** [[plannerBudgets]] on an already-collected passer census — pure
    * coordinator arithmetic, no Spark jobs: the per-batch half a
    * serving tier runs against the census it resolved at stream
    * start. */
  private[graft] def plannerBudgetsOnCensus(census: Map[Int, (Long, Long)],
      ranking: Array[(Long, Int, Int)], k: Int = 5): Map[Long, Int] = {
    val tRows = census.valuesIterator.map(_._1).sum
    val tPass = census.valuesIterator.map(_._2).sum
    ranking.groupBy(_._1).map { case (qid, rows) =>
      // mirror the oracle's census INNER JOIN exactly: a cell with no
      // inverted-list rows (possible only on degenerate fixtures)
      // drops out of the cumulative walk, and when the pr=IvfNProbe
      // row itself is missing the unfiltered-coverage baseline is
      // undefined — no prefix is adequate and the budget falls back
      // to all cells, in both engines
      val present = rows.sortBy(_._3).filter(r => census.contains(r._2))
      var cumR = 0L; var cumP = 0L
      var ufRows: Option[Long] = None
      val cums = present.map { case (_, cell, pr) =>
        cumR += census(cell)._1; cumP += census(cell)._2
        if (pr == IvfNProbe) ufRows = Some(cumR)
        (pr, cumP)
      }
      val nCells = present.length
      val adequate = ufRows.flatMap { uf =>
        cums.find { case (_, cp) =>
          cp * tRows >= uf * tPass && cp >= k
        }.map(_._1)
      }
      qid -> math.min(nCells,
        math.max(adequate.getOrElse(nCells), IvfNProbeFiltered))
    }
  }

  /** The filtered IVFADC scan, parameterized by predicate and
    * PER-QUERY probe budgets — shared by `sim_ann_ivfpq_adaptive`
    * (planner budgets) and SimilaritySpec's adversarial far-cell gate
    * (which also runs it at the static constant to prove the
    * under-return). Plan shape identical to `sim_ann_ivfpq_filtered`:
    * probed cells prune at the scan (partition filter), the predicate
    * is a codegen'd data filter on the STORED attribute before any
    * pairing or ADC work, ≤k rows per query cross the one shuffle,
    * and the label re-attach scans only the probed cells. Emits
    * `probes_used` per row so the budget decision is auditable (and
    * oracle-hash-checked). */
  private[operators] def ivfpqSearchWithBudgets(s: SparkSession, d: String,
      pred: org.apache.spark.sql.Column,
      budgets: Map[Long, Int]): DataFrame = {
    val (cells, cents) = ivfpqPersistedModel(s, d)
    val (_, books) = pqPersistedModel(s, d)
    ivfpqSearchOnRanking(s, cells, pqQueryLutWide(s, d, books),
      probeRanking(s, d, cents), pred, budgets)
  }

  /** [[ivfpqSearchWithBudgets]] on pre-resolved artifacts and an
    * already-collected probe ranking. Budgets are made TOTAL over the
    * ranking's query set first (missing queries take the static
    * [[IvfNProbeFiltered]] floor), so an empty map genuinely runs the
    * static-constant search instead of being dropped by the
    * probes_used join — the mode SimilaritySpec's adversarial gate
    * measures.
    *
    * `excludeSelf` (default true — the registry faces' oracles issue
    * corpus vectors as queries and exclude the trivial self-match)
    * drops candidates whose vec_id equals the query_id. A serving
    * tier whose queries arrive from OUTSIDE the corpus passes false:
    * query ids live in their own namespace there, and an external
    * query whose id happens to collide with a corpus vec_id must not
    * silently lose that vector as a candidate (round-15 ADVICE). */
  private[graft] def ivfpqSearchOnRanking(s: SparkSession,
      cells: DataFrame, lut: DataFrame,
      ranking: Array[(Long, Int, Int)],
      pred: org.apache.spark.sql.Column,
      budgets: Map[Long, Int],
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    val eff: Map[Long, Int] = ranking.map(_._1).distinct
      .map(q => q -> budgets.getOrElse(q, IvfNProbeFiltered)).toMap
    val (probedCells, probePairs) = probeSet(s,
      ranking.filter { case (qid, _, pr) => pr <= eff(qid) })
    val budgetDf = eff.toSeq
      .map { case (qid, nb) => (qid, nb.toLong) }
      .toDF("query_id", "probes_used")
    val ranked = adcTopK(s, cells, lut, probedCells, probePairs,
      Some(pred), 5, excludeSelf)
    broadcast(ranked)
      .join(cells.filter($"centroid_id".isin(probedCells: _*))
        .select($"vec_id", $"label"), Seq("vec_id"))
      .join(broadcast(budgetDf), Seq("query_id"))
      .select($"query_id", $"rnk", $"vec_id", $"label", $"adist",
        $"probes_used")
      .orderBy($"query_id", $"rnk")
  }

  /** The partition-pruned ADC ranking core shared by the
    * budget-driven filtered search and the post-filter executor: scan
    * only the probed cells (partition filter), apply the optional
    * stored-attribute predicate BEFORE any pairing or distance work,
    * pair candidates with their queries through the broadcast probe
    * table, fold the codegen'd ADC distance, and rank through the
    * bounded top-k buffer — ≤k rows per query cross the one shuffle.
    * Returns (query_id, rnk, vec_id, adist). */
  private def adcTopK(s: SparkSession,
      cells: DataFrame, lut: DataFrame,
      probedCells: Seq[Int], probePairs: DataFrame,
      pred: Option[org.apache.spark.sql.Column], k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    val scanned = cells.filter($"centroid_id".isin(probedCells: _*))
    val paired = pred.fold(scanned)(scanned.filter)
      .join(broadcast(probePairs), Seq("centroid_id"))
    val cands = (if (excludeSelf) paired.filter($"vec_id" =!= $"query_id") else paired)
      .join(broadcast(lut), Seq("query_id"))
      .select($"query_id", $"vec_id",
        graft.functions.VectorExprs.pqAdcSum($"codes", $"lut").as("adist"))
    topKByAdist(cands, k)
  }

  /** The `k` smallest `adist` per query of (query_id, vec_id, adist)
    * rows through the bounded-buffer aggregator (vec_id tie-break):
    * ≤k rows per query cross the shuffle. Rows (query_id, rnk,
    * vec_id, adist). */
  private def topKByAdist(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored
      .groupBy($"query_id")
      .agg(topk(-$"adist", $"vec_id").as("top"))
      .select($"query_id",
        posexplode(arrays_zip($"top.scores", $"top.ids")).as(Seq("i", "pair")))
      .select($"query_id", ($"i" + 1).cast(LongType).as("rnk"),
        $"pair.ids".as("vec_id"), (-$"pair.scores").as("adist"))
  }

  /** Cell-assign + PQ-encode an arriving (vec_id, emb) frame against
    * the FROZEN artifacts — the maintenance arithmetic shared by the
    * batch face (`sim_ivfpq_append`) and the continuous one
    * ([[graft.streaming.StreamingIndexAppend]]), single-sourced so the
    * two can never drift: nearest persisted centroid per vector,
    * nearest persisted codeword per subvector (distance-then-id
    * tiebreaks — deterministic), both against BROADCAST tables.
    * Map-only per batch beyond the two batch-sized vec_id windows;
    * the frozen index is never retrained here. Returns long-form
    * (vec_id, centroid_id, sub, code). */
  private[graft] def encodeAgainstFrozen(s: SparkSession, cents: DataFrame,
      books: DataFrame, newVecs: DataFrame): DataFrame = {
    import s.implicits._
    val wCell = Window.partitionBy($"vec_id").orderBy($"dist".asc, $"centroid_id")
    val assigned = newVecs.crossJoin(broadcast(cents))
      .withColumn("dist", l2sq($"emb", $"cemb"))
      .withColumn("r", row_number().over(wCell)).filter($"r" === 1)
      .select($"vec_id", $"centroid_id")
    val wCode = Window.partitionBy($"vec_id", $"sub").orderBy($"dist".asc, $"code")
    val encoded = pqSubvectors(s, newVecs)
      .join(broadcast(books), Seq("sub"))
      .withColumn("dist", l2sq($"semb", $"cemb"))
      .withColumn("r", row_number().over(wCode)).filter($"r" === 1)
      .select($"vec_id", $"sub", $"code")
    assigned.join(encoded, Seq("vec_id"))
      .select($"vec_id", $"centroid_id", $"sub", $"code")
  }

  /** Widen [[encodeAgainstFrozen]]'s long form to the artifact's
    * inverted-list row shape — (vec_id, codes: array&lt;int&gt;
    * sub-ordered, centroid_id) — the ONE copy of the codes-array
    * assembly (round-16 review: the continuous appender and the
    * extended serving view each carried their own; a drift between
    * them would write extension files the serving view decodes
    * differently). Callers attach their own label column. */
  private[graft] def widenToArtifactRows(encoded: DataFrame): DataFrame = {
    val s = encoded.sparkSession
    import s.implicits._
    encoded
      .groupBy($"vec_id", $"centroid_id")
      .agg(array_sort(collect_list(struct($"sub", $"code"))).as("sc"))
      .select($"vec_id",
        transform($"sc", x => x.getField("code")).as("codes"),
        $"centroid_id")
  }

  /** Long-form (vec_id, sub, code) view of the wide codes artifact —
    * map-only (posexplode preserves the scan's partitioning, so a
    * vec_id-bucketed codes table keeps its zero-exchange property
    * through this, BucketingSpec gates it). */
  private[operators] def pqCodesLong(codesWide: DataFrame): DataFrame = {
    val s = codesWide.sparkSession
    import s.implicits._
    codesWide.select($"vec_id", posexplode($"codes").as(Seq("sub", "code")))
  }

  /** The per-query PqSub×PqK lookup table of subspace distances — the
    * only thing ADC search computes from raw embeddings (the 5 query
    * vectors, vec_id-pushdown scan). Decimal-quantized like the build
    * so sums stay order-free exact. */
  private[operators] def pqQueryLut(s: SparkSession, d: String, books: DataFrame): DataFrame = {
    import s.implicits._
    pqQueryLutFor(s, embDouble(s, d).filter($"vec_id" < 5), books)
  }

  /** [[pqQueryLut]] for an ARBITRARY query frame (vec_id, emb) — the
    * serving tier's shape: a query batch arrives from outside the
    * corpus, the LUT prices it against the frozen codebooks. */
  private[graft] def pqQueryLutFor(s: SparkSession, q: DataFrame,
      books: DataFrame): DataFrame = {
    import s.implicits._
    pqSubvectors(s, q)
      .select($"vec_id".as("query_id"), $"sub", $"semb".as("qsemb"))
      .join(broadcast(books), Seq("sub"))
      .select($"query_id", $"sub", $"code",
        round(l2sq($"qsemb", $"cemb"), 9).cast(DecimalType(27, 9)).as("pdist"))
  }

  /** [[pqQueryLut]] flattened to one row per query: `lut` is the
    * scale-9 fixed-point subspace distances as longs, sub-major and
    * code-ordered — exactly the layout [[graft.functions.PqAdcSum]]
    * indexes. The DECIMAL(27,9)→long conversion is exact (values are
    * integral after ×10^9), so the map-only fold reproduces the
    * grouped decimal SUM bit for bit.
    *
    * Assembled DRIVER-side, deliberately: the LUT is
    * O(queries-per-batch × PqSub × PqK) — 160 values here, tiny by
    * construction at any scale — and a real ADC server computes it on
    * the coordinator per query batch. Collecting it removes the
    * groupBy exchange (and its whole AQE stage) a distributed
    * assembly would pay just to regroup 160 rows; the distance
    * arithmetic itself stays in [[pqQueryLut]]'s plan — the driver
    * only regroups finished longs (the `Bloom`-build O(sketch)
    * precedent). */
  private[operators] def pqQueryLutWide(s: SparkSession, d: String, books: DataFrame): DataFrame = {
    import s.implicits._
    pqQueryLutWideFor(s, embDouble(s, d).filter($"vec_id" < 5), books)
  }

  /** [[pqQueryLutWide]] for an arbitrary query frame (vec_id, emb). */
  private[graft] def pqQueryLutWideFor(s: SparkSession, q: DataFrame,
      books: DataFrame): DataFrame = {
    import s.implicits._
    val rows = pqQueryLutFor(s, q, books)
      .select($"query_id", $"sub", $"code",
        ($"pdist" * 1000000000L).cast(LongType).as("v"))
      .collect()
    rows.groupBy(_.getLong(0)).toSeq
      .map { case (q, rs) =>
        // DENSE sub-major layout, always PqK slots per subspace: a
        // codeword that loses every member during the Lloyd rounds
        // drops out of the codebook, and a gap here would silently
        // shift PqAdcSum's index arithmetic (k = len/nSub). Codes
        // never reference a vanished codeword, so the sentinel slot
        // is never read; /16 keeps even a hypothetical PqSub-term
        // sum of sentinels inside a long
        val lut = Array.fill(PqSub * PqK)(Long.MaxValue / 16)
        rs.foreach(r => lut(r.getInt(1) * PqK + r.getInt(2) - 1) = r.getLong(3))
        (q, lut.toSeq)
      }
      .toDF("query_id", "lut")
  }

  /** ADC distance aggregation: candidate codes ⋈ broadcast LUT on
    * (sub, code), then an exact decimal SUM per (query, vec). When
    * `codes` comes from a table bucketed by vec_id the aggregation
    * inherits the scan's partitioning (vec_id is a subset of the
    * grouping key) and the plan has ZERO shuffle exchanges —
    * BucketingSpec gates that shape; at 10^9 vectors this exchange IS
    * the search cost. */
  private[operators] def pqAdcDistances(codes: DataFrame, lut: DataFrame): DataFrame =
    codes
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdist")).cast(DoubleType).as("adist"))

  /** PQ k-means build as a CTE chain ending in `codes` (assignments)
    * and `pc2` (final codebooks) — shared by both PQ oracles. */
  private lazy val pqBuildCtes: String =
    s"$embCteSql,\n$pqBuildChain"

  /** [[pqBuildCtes]] minus the `WITH e` head — composable after any
    * chain that already defines `e` (the IVF+PQ oracle). */
  private[operators] lazy val pqBuildChain: String = pqBuildChainFrom("e")

  /** The PQ k-means chain trained over an arbitrary (vec_id, emb) CTE —
    * `src = "e"` reproduces [[pqBuildChain]] textually (artifact cache
    * keys hash that string, so the refactor must not change it);
    * `src = "er"` trains the SAME machinery over IVF residuals for the
    * IVFADC oracle ([[ivfPqResidualOracleSql]]). */
  private[operators] def pqBuildChainFrom(src: String): String = {
    def assign(a: String, c: String): String = s"""
        $a AS (
          SELECT vec_id, sub, semb, code FROM (
            SELECT sv.vec_id, sv.sub, sv.semb, c.code,
              ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
                list_sum(list_transform(generate_series(1, $PqSubDim),
                  i -> (sv.semb[i] - c.cemb[i]) * (sv.semb[i] - c.cemb[i]))) ASC,
                c.code) AS rn
            FROM sv JOIN $c c ON c.sub = sv.sub) x
          WHERE rn = 1)"""
    def means(c: String, a: String): String =
      decimalMeansCte(c, a, Seq("sub", "code"), "semb", PqSubDim)
    s"""
        sv AS (
          SELECT vec_id, s.sub,
                 emb[(s.sub * $PqSubDim + 1):(s.sub * $PqSubDim + $PqSubDim)]
                   AS semb
          FROM $src, range(0, $PqSub) s(sub)),
        pqseedids AS (
          SELECT vec_id FROM $src ORDER BY $seedHashSql, vec_id LIMIT $PqK),
        pqseeds AS (
          SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT)
                   AS code
          FROM pqseedids),
        pc0 AS (
          SELECT sv.sub, pqseeds.code, sv.semb AS cemb
          FROM sv JOIN pqseeds USING (vec_id)),
        ${assign("pa1", "pc0")},
        ${means("pc1", "pa1")},
        ${assign("pa2", "pc1")},
        ${means("pc2", "pa2")},
        ${assign("codes", "pc2")}"""
  }

  /** Self-contained value oracle for `sim_pq_reconstruction`. */
  private lazy val pqReconOracleSql: String = s"""
        $pqBuildCtes
        SELECT vec_id,
          round(sqrt(CAST(SUM(CAST(round(
            list_sum(list_transform(generate_series(1, $PqSubDim),
              i -> (k.semb[i] - c.cemb[i]) * (k.semb[i] - c.cemb[i]))), 9)
            AS DECIMAL(27,9))) AS DOUBLE)), 6) AS recon_err
        FROM codes k JOIN pc2 c ON c.sub = k.sub AND c.code = k.code
        GROUP BY vec_id
        ORDER BY vec_id"""

  /** Self-contained value oracle for `sim_ann_pq_adc`: rebuilds the
    * codebooks, the per-query lookup table, and the exact decimal ADC
    * sums, then ranks. */
  private lazy val pqAdcOracleSql: String = s"""
        $pqBuildCtes,
        q AS (
          SELECT vec_id AS query_id, sub, semb AS qsemb
          FROM sv WHERE vec_id < 5),
        lut AS (
          SELECT q.query_id, c.sub, c.code,
            CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
              i -> (q.qsemb[i] - c.cemb[i]) * (q.qsemb[i] - c.cemb[i]))), 9)
              AS DECIMAL(27,9)) AS pdist
          FROM q JOIN pc2 c ON c.sub = q.sub),
        adc AS (
          SELECT l.query_id, k.vec_id, CAST(SUM(l.pdist) AS DOUBLE) AS adist
          FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
          WHERE k.vec_id <> l.query_id
          GROUP BY l.query_id, k.vec_id)
        ${adcTop5Sql("vec_id, adist")}"""

  /** Oracle expression `pr`: query `q`'s rank of IVF centroid `c`
    * by l2 distance, centroid-id tie-break — the assignment argmin's
    * arithmetic. */
  private lazy val cellRankSql: String = s"""ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                list_sum(list_transform(generate_series(1, $Dim),
                  i -> (q.qemb[i] - c.cemb[i]) * (q.qemb[i] - c.cemb[i]))) ASC,
                c.centroid_id) AS pr"""

  /** Oracle CTEs `q` (the 5 query vectors of `e`) and `probes`: each
    * query's `nprobe` nearest cells of the IVF chain's `c3`. */
  private def ivfProbesSql(nprobe: Int): String = s"""q AS (
          SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        probes AS (
          SELECT query_id, centroid_id AS pcell FROM (
            SELECT q.query_id, c.centroid_id,
              $cellRankSql
            FROM q, c3 c) x
          WHERE pr <= $nprobe)"""

  /** [[ivfProbesSql]] over the IVF-only chain (queries read from
    * `fin`), carrying each query's vector onto its probes. */
  private lazy val cellProbesSql: String = s"""q AS (
          SELECT vec_id AS query_id, emb AS qemb
          FROM fin WHERE vec_id < 5),
        probes AS (
          SELECT query_id, qemb, centroid_id AS pcell FROM (
            SELECT q.query_id, q.qemb, c.centroid_id,
              $cellRankSql
            FROM q, c3 c) x
          WHERE pr <= $IvfNProbe)"""

  /** Oracle CTEs `qsub` (the queries' sub-vectors from the PQ chain's
    * `sv`) and `lut`: per (query, sub, code) the squared distance to
    * the codebook entry, rounded into DECIMAL(27,9). */
  private lazy val pqLutSql: String = s"""qsub AS (
          SELECT vec_id AS query_id, sub, semb AS qsemb
          FROM sv WHERE vec_id < 5),
        lut AS (
          SELECT qsub.query_id, c.sub, c.code,
            CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
              i -> (qsub.qsemb[i] - c.cemb[i]) * (qsub.qsemb[i] - c.cemb[i]))), 9)
              AS DECIMAL(27,9)) AS pdist
          FROM qsub JOIN pc2 c ON c.sub = qsub.sub)"""

  /** Oracle CTE `adc`: ADC sums of the probed cells' candidates with
    * their labels, restricted to label % 7 = 3 when `labelFilter`. */
  private def labeledAdcSql(labelFilter: Boolean): String = {
    val pred = if (labelFilter) "\n            AND em.label % 7 = 3" else ""
    s"""adc AS (
          SELECT p.query_id, f.vec_id,
                 CAST(em.label AS BIGINT) AS label,
                 CAST(SUM(l.pdist) AS DOUBLE) AS adist
          FROM probes p
          JOIN fin f ON f.centroid_id = p.pcell
          JOIN embeddings em ON em.vec_id = f.vec_id
          JOIN codes k ON k.vec_id = f.vec_id
          JOIN lut l ON l.query_id = p.query_id
                    AND l.sub = k.sub AND l.code = k.code
          WHERE f.vec_id <> p.query_id$pred
          GROUP BY p.query_id, f.vec_id, em.label)"""
  }

  /** Oracle tail: the 5 smallest `adist` per query from `adc`
    * (vec_id tie-break), emitting `cols`. */
  private def adcTop5Sql(cols: String): String = s"""SELECT query_id, rnk, $cols FROM (
          SELECT query_id, $cols,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adist ASC, vec_id) AS rnk
          FROM adc) r
        WHERE rnk <= 5
        ORDER BY query_id, rnk"""

  /** Self-contained value oracle for `sim_ann_ivfpq`: both index
    * builds unroll into ONE statement ([[ivfBuildChain]] +
    * [[pqBuildChain]] over the shared `e`), then the probe ranking,
    * the per-query LUT, the cell-restricted ADC sums, and the final
    * ranking — DuckDB re-derives every piece of the composed index
    * from the raw table. */
  private lazy val ivfPqOracleSql: String = s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        ${ivfProbesSql(IvfNProbe)},
        $pqLutSql,
        adc AS (
          SELECT p.query_id, f.vec_id, CAST(SUM(l.pdist) AS DOUBLE) AS adist
          FROM probes p
          JOIN fin f ON f.centroid_id = p.pcell
          JOIN codes k ON k.vec_id = f.vec_id
          JOIN lut l ON l.query_id = p.query_id
                    AND l.sub = k.sub AND l.code = k.code
          WHERE f.vec_id <> p.query_id
          GROUP BY p.query_id, f.vec_id)
        ${adcTop5Sql("vec_id, adist")}"""

  /** [[ivfPqOracleSql]] with the predicate pushed into the candidate
    * scan (`sim_ann_ivfpq_filtered`): identical probe plan and ADC
    * arithmetic, candidates restricted to label % 7 = 3 BEFORE any
    * distance — the oracle filters on the base table's label exactly
    * where the engine filters on the artifact's stored column. */
  private lazy val ivfPqFilteredOracleSql: String = s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        ${ivfProbesSql(IvfNProbeFiltered)},
        $pqLutSql,
        ${labeledAdcSql(labelFilter = true)}
        ${adcTop5Sql("vec_id, label, adist")}"""

  /** Shared oracle CTE chain of the planner-arithmetic faces
    * (`sim_ann_ivfpq_adaptive`, `sim_filtered_strategy`): the passer
    * census, the distance-ranked probe list, the cumulative adequacy
    * walk, and the per-query budget nb — ONE copy, so a change to the
    * adequacy rule or the floor cannot desynchronize the faces while
    * each still passes its own oracle. Composes after $embCteSql +
    * $ivfBuildChain; exposes census / rankedp / cum / cum2 / plan /
    * budget. The distributed twin is [[probePlanCum]], the collected
    * twin [[plannerBudgets]]. */
  private lazy val probeBudgetCtes: String = s"""census AS (
          SELECT f.centroid_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CASE WHEN em.label % 7 = 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pass
          FROM fin f JOIN embeddings em ON em.vec_id = f.vec_id
          GROUP BY f.centroid_id),
        q AS (
          SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        rankedp AS (
          SELECT q.query_id, c.centroid_id,
            $cellRankSql
          FROM q, c3 c),
        cum AS (
          SELECT r.query_id, r.pr, r.centroid_id,
            SUM(s.n_rows) OVER (PARTITION BY r.query_id ORDER BY r.pr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows,
            SUM(s.n_pass) OVER (PARTITION BY r.query_id ORDER BY r.pr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pass,
            SUM(s.n_rows) OVER (PARTITION BY r.query_id) AS t_rows,
            SUM(s.n_pass) OVER (PARTITION BY r.query_id) AS t_pass,
            COUNT(*) OVER (PARTITION BY r.query_id) AS n_cells
          FROM rankedp r JOIN census s USING (centroid_id)),
        cum2 AS (
          SELECT *, MAX(CASE WHEN pr = $IvfNProbe THEN cum_rows END)
            OVER (PARTITION BY query_id) AS uf_rows
          FROM cum),
        plan AS (
          SELECT query_id, MIN(pr) AS min_pr
          FROM cum2
          WHERE cum_pass * t_rows >= uf_rows * t_pass AND cum_pass >= 5
          GROUP BY query_id),
        budget AS (
          SELECT c.query_id,
                 LEAST(MAX(c.n_cells),
                   GREATEST(COALESCE(MIN(p.min_pr), MAX(c.n_cells)),
                            $IvfNProbeFiltered)) AS nb
          FROM cum2 c LEFT JOIN plan p USING (query_id)
          GROUP BY c.query_id)"""

  /** [[ivfPqFilteredOracleSql]] with the probe budget DERIVED by the
    * planner arithmetic instead of the static constant
    * (`sim_ann_ivfpq_adaptive`): the per-cell passer census, the
    * cumulative adequacy walk of `sim_filtered_probe_plan`, then per
    * query nb = LEAST(n_cells, GREATEST(COALESCE(min adequate pr,
    * n_cells), $IvfNProbeFiltered)) — floor at the static dial,
    * all-cells fallback — feeding the same filtered ADC tail. The
    * budget itself rides the output (`probes_used`), so the hash
    * checks the planner arithmetic, not just the search. */
  private lazy val ivfPqAdaptiveOracleSql: String = s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        $probeBudgetCtes,
        probes AS (
          SELECT r.query_id, r.centroid_id AS pcell
          FROM rankedp r JOIN budget b USING (query_id)
          WHERE r.pr <= b.nb),
        $pqLutSql,
        ${labeledAdcSql(labelFilter = true)}
        SELECT r.query_id, r.rnk, r.vec_id, r.label, r.adist,
               CAST(b.nb AS BIGINT) AS probes_used
        FROM (
          SELECT query_id, vec_id, label, adist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adist ASC, vec_id) AS rnk
          FROM adc) r
        JOIN budget b USING (query_id)
        WHERE r.rnk <= 5
        ORDER BY r.query_id, r.rnk"""

  /** IVF residuals x − centroid(x) (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" — the IVFADC encoding;
    * what FAISS `IndexIVFPQ` ships): each vector minus its assigned
    * cell's centroid. PQ codes spent on residuals describe a vector's
    * position WITHIN its cell instead of re-describing the cell itself,
    * which is what holds recall at tight code budgets. Plain double
    * subtraction — bit-identical in both engines, so the residual
    * table composes into the unrolled oracle with one CTE. */
  private def ivfResiduals(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.join(broadcast(cents), Seq("centroid_id"))
      .select($"vec_id", zip_with($"emb", $"cemb", (a, c) => a - c).as("emb"))
      .pin()
  }

  /** Probed ADC top-k shared by the residual IVFADC query and the
    * recall gate: candidates come ONLY from each query's `IvfNProbe`
    * nearest cells (equality join on the cell id against a 15-row
    * broadcast probe list — the corpus never fans out), distances are
    * the exact-decimal LUT sums, ranking rides the bounded-buffer
    * aggregator so ≤k rows per query cross the only shuffle.
    *
    * `residualLut = true` is IVFADC: the LUT is computed per
    * (query, probed cell) from the residual query q − centroid(cell)
    * against residual codebooks. `false` is the raw-code index at the
    * IDENTICAL probe/code budget (LUT from q itself, replicated per
    * probed cell so the downstream join is uniform) — the pair differs
    * ONLY in what the codes encode, which is what lets the recall gate
    * attribute any gain to the residual encoding. The LUT frame is
    * Q×nprobe×PqSub×PqK = 480 rows — coordinator-sized by
    * construction, like [[pqQueryLutWide]]. */
  private def adcProbedTopK(s: SparkSession, e: DataFrame,
      assigned: DataFrame, cents: DataFrame,
      codes: DataFrame, books: DataFrame,
      residualLut: Boolean, k: Int, nq: Int = 5): DataFrame = {
    import s.implicits._
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"cdist".asc, $"centroid_id")
    val probePairs = q.crossJoin(broadcast(cents))
      .withColumn("cdist", l2sq($"qemb", $"cemb"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= IvfNProbe)
      .select($"query_id", $"centroid_id".as("pcell"), $"qemb", $"cemb")
    val rq =
      if (residualLut)
        probePairs.select($"query_id", $"pcell",
          zip_with($"qemb", $"cemb", (a, c) => a - c).as("remb"))
      else
        probePairs.select($"query_id", $"pcell", $"qemb".as("remb"))
    val subs = (0 until PqSub).map(i => struct(lit(i).as("sub"),
      slice($"remb", i * PqSubDim + 1, PqSubDim).as("qsemb")))
    val rlut = rq
      .select($"query_id", $"pcell", explode(array(subs: _*)).as("x"))
      .select($"query_id", $"pcell", $"x.sub".as("sub"), $"x.qsemb".as("qsemb"))
      .join(broadcast(books), Seq("sub"))
      .select($"query_id", $"pcell", $"sub", $"code",
        round(l2sq($"qsemb", $"cemb"), 9).cast(DecimalType(27, 9)).as("pdist"))
    topKByAdist(assigned.select($"vec_id", $"centroid_id")
      .join(broadcast(probePairs.select($"query_id", $"pcell")),
        $"centroid_id" === $"pcell")
      .filter($"vec_id" =!= $"query_id")
      .join(codes.select($"vec_id", $"sub", $"code"), Seq("vec_id"))
      .join(broadcast(rlut), Seq("query_id", "pcell", "sub", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"pdist").cast(DoubleType).as("adist")), k)
  }

  /** Self-contained value oracle for `sim_ann_ivfpq_residual`: the IVF
    * chain, the residual table (one subtraction CTE), the SAME PQ chain
    * retargeted at the residuals ([[pqBuildChainFrom]]), then the probe
    * ranking, the per-(query, cell) residual LUTs, the cell-restricted
    * ADC sums, and the ranking — the complete IVFADC mechanism
    * re-derived from the raw table in one statement. */
  private lazy val ivfPqResidualOracleSql: String = s"""
        $embCteSql,
        $ivfBuildChain,
        er AS (
          SELECT f.vec_id,
                 list_transform(generate_series(1, $Dim),
                   i -> f.emb[i] - c.cemb[i]) AS emb
          FROM fin f JOIN c3 c USING (centroid_id)),
        ${pqBuildChainFrom("er")},
        ${ivfProbesSql(IvfNProbe)},
        rq AS (
          SELECT p.query_id, p.pcell,
                 list_transform(generate_series(1, $Dim),
                   i -> q.qemb[i] - c.cemb[i]) AS remb
          FROM probes p
          JOIN q USING (query_id)
          JOIN c3 c ON c.centroid_id = p.pcell),
        rqsub AS (
          SELECT query_id, pcell, s.sub,
                 remb[(s.sub * $PqSubDim + 1):(s.sub * $PqSubDim + $PqSubDim)]
                   AS qsemb
          FROM rq, range(0, $PqSub) s(sub)),
        rlut AS (
          SELECT r.query_id, r.pcell, c.sub, c.code,
            CAST(round(list_sum(list_transform(generate_series(1, $PqSubDim),
              i -> (r.qsemb[i] - c.cemb[i]) * (r.qsemb[i] - c.cemb[i]))), 9)
              AS DECIMAL(27,9)) AS pdist
          FROM rqsub r JOIN pc2 c ON c.sub = r.sub),
        adc AS (
          SELECT p.query_id, f.vec_id, CAST(SUM(l.pdist) AS DOUBLE) AS adist
          FROM probes p
          JOIN fin f ON f.centroid_id = p.pcell
          JOIN codes k ON k.vec_id = f.vec_id
          JOIN rlut l ON l.query_id = p.query_id AND l.pcell = p.pcell
                     AND l.sub = k.sub AND l.code = k.code
          WHERE f.vec_id <> p.query_id
          GROUP BY 1, 2)
        ${adcTop5Sql("vec_id, adist")}"""

  /** The IVF cell assignment over `d`'s embeddings — exposed to the
    * dedup pack: SemDeDup-style semantic dedup clusters with exactly
    * this build so its oracle shares [[ivfBuildCtes]] and the k-means
    * mechanism stays value-checked in one place. */
  private[operators] def ivfAssignedFor(s: SparkSession, d: String): DataFrame =
    ivfModelFor(s, d)._1

  /** Both faces of the IVF build over `d`'s embeddings — assignment AND
    * the final centroid table — PERSISTED, like the PQ and NSW
    * artifacts: every face that probes cells (single-cell, multiprobe,
    * filtered, radius/range, the graph walks' coarse layer, SemDeDup
    * clustering, prototype pruning) shares ONE nightly Lloyd build
    * read back as parquet, instead of re-running the k-means per
    * query. Build determinism (hash-ordered seeds, decimal-quantized
    * means) keeps the persisted values bit-identical to a fresh
    * [[ivfModel]] run, so every consumer's self-contained unrolled
    * oracle is untouched (SimilaritySpec gate). Keyed by the complete
    * build statement + embeddings identity; staging-rename install. */
  private[operators] def ivfModelFor(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dir = artifactDir(s, d, "embeddings.parquet", "ivf",
      s"fmt1|$ivfBuildChain")
    val ok = successAt(s)
    def completeAt(root: String): Boolean =
      ok(root) && ok(s"$root/assigned") && ok(s"$root/cents")
    ensureArtifact(s, dir, "ivf-model")(completeAt) { stage =>
      val (assigned, cents) = ivfModel(s, embCheckpointed(s, d))
      assigned.write.parquet(s"$stage/assigned")
      cents.write.parquet(s"$stage/cents")
      val fs = new org.apache.hadoop.fs.Path(stage)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"), true)
        .close()
    }
    (s.read.parquet(s"$dir/assigned"), s.read.parquet(s"$dir/cents"))
  }

  /** The deterministic arriving batch both index-maintenance queries
    * use (`sim_ivfpq_append`, `sim_ivfpq_retrain_signal`): midpoints of
    * consecutive base vectors, ids offset by 1e6. Floor-based fixed
    * point, not round(double, 6): Spark rounds the shortest-decimal
    * string HALF_UP while DuckDB rounds the binary double, and a
    * midpoint landing on a decimal half boundary would split the
    * engines; floor(x*1e6)/1e6 is the same IEEE arithmetic in both. */
  private[graft] def midpointBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embCheckpointed(s, d)
    val base = e.filter($"vec_id" < 10).select($"vec_id", $"emb")
    val nxt = e.filter($"vec_id" >= 1 && $"vec_id" <= 10)
      .select(($"vec_id" - 1).as("vec_id"), $"emb".as("emb2"))
    base.join(nxt, Seq("vec_id"))
      .select(($"vec_id" + 1000000L).as("vec_id"),
        zip_with($"emb", $"emb2",
          (a, b) => floor((a + b) / 2 * lit(1e6)) / lit(1e6)).as("emb"))
      .pin() // ≥2 consumers in every caller
  }

  /** The retrain-decision monitor between "frozen-index append"
    * (`sim_ivfpq_append`) and "scheduled rebuild": assign an arriving
    * `batch` against the FROZEN persisted centroids and compare, per
    * cell, the batch's population share and residual energy against
    * the base index. Emits one row per cell — (n_base, n_new, exact
    * micro-unit residual-energy sums, the population-drift numerator
    * |n_new·N₀ − n_base·N₁| over the implicit denominator N₀·N₁) —
    * plus two calibrated flags and the global `rebuild_now` boolean:
    *   energy_flag: batch mean residual > 2× base mean residual
    *     (cross-multiplied exact: new_d2u·n_base > 2·base_d2u·n_new),
    *     i.e. arriving vectors land FAR from every centroid — the
    *     cells no longer describe the distribution;
    *   pop_flag: share drift > 1/2 (|·|·2 > N₀·N₁) — mass is
    *     collapsing into cells the index balanced differently.
    * All comparisons are integer cross-multiplications on floor-to-
    * micro residuals (the shared IEEE l2sq fold), so both engines
    * reach identical verdicts. Plan shape: base energy reads the
    * artifact's OWN assignments (vec_id join + 8-row broadcast cents —
    * no argmin over the corpus), the batch argmin is O(batch × cells)
    * map work, and everything after the two groupBys is 8-row
    * arithmetic. Exposed for SimilaritySpec's planted-shift gate. */
  private[operators] def retrainSignal(
      s: SparkSession, d: String, batch: DataFrame): DataFrame = {
    import s.implicits._
    val (cells, cents) = ivfpqPersistedModel(s, d)
    val e = embCheckpointed(s, d)
    val base = cells.select($"vec_id", $"centroid_id")
      .join(e.select($"vec_id", $"emb"), Seq("vec_id"))
      .join(broadcast(cents), Seq("centroid_id"))
      .withColumn("dist", l2sq($"emb", $"cemb"))
      .withColumn("d2u", expr("cast(floor(dist * 1000000) as bigint)"))
      .groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_base"), sum($"d2u").as("base_d2u"))
    val wCell = Window.partitionBy($"vec_id")
      .orderBy($"dist".asc, $"centroid_id")
    val nw = batch.crossJoin(broadcast(cents))
      .withColumn("dist", l2sq($"emb", $"cemb"))
      .withColumn("r", row_number().over(wCell)).filter($"r" === 1)
      .withColumn("d2u", expr("cast(floor(dist * 1000000) as bigint)"))
      .groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_new"), sum($"d2u").as("new_d2u"))
    val joined = base.join(nw, Seq("centroid_id"), "left")
      .select($"centroid_id", $"n_base",
        coalesce($"n_new", lit(0L)).as("n_new"), $"base_d2u",
        coalesce($"new_d2u", lit(0L)).as("new_d2u"))
      .pin() // totals + per-cell flags
    val tot = joined.agg(sum($"n_base").as("n0"), sum($"n_new").as("n1"))
    val flags = joined.crossJoin(broadcast(tot))
      .select($"centroid_id", $"n_base", $"n_new", $"base_d2u", $"new_d2u",
        abs($"n_new" * $"n0" - $"n_base" * $"n1").as("pop_drift_num"),
        ($"n_new" > 0 &&
          $"new_d2u" * $"n_base" > $"base_d2u" * $"n_new" * 2)
          .as("energy_flag"),
        (abs($"n_new" * $"n0" - $"n_base" * $"n1") * 2 > $"n0" * $"n1")
          .as("pop_flag"))
      .pin() // rows + the bool_or fold
    flags.crossJoin(broadcast(
        flags.agg(expr("bool_or(energy_flag or pop_flag)")
          .as("rebuild_now"))))
      .orderBy($"centroid_id")
  }

  /** DuckDB twin of [[midpointBatch]] — the `nv` CTE both maintenance
    * oracles compose after `e` (single-sourced so the batch definition
    * cannot diverge between them). */
  private lazy val nvBatchCte: String = s"""
        nv AS (
          SELECT b.vec_id + 1000000 AS vec_id,
                 list_transform(generate_series(1, $Dim),
                   i -> floor((b.emb[i] + n.emb2[i]) / 2 * 1e6) / 1e6) AS emb
          FROM (SELECT vec_id, emb FROM e WHERE vec_id < 10) b
          JOIN (SELECT vec_id - 1 AS vec_id, emb AS emb2 FROM e
                WHERE vec_id BETWEEN 1 AND 10) n USING (vec_id))"""

  /** DuckDB twin of [[encodeAgainstFrozen]] over the `nv` batch — the
    * frozen-encode CTEs (cellq: nearest final centroid per arriving
    * vector; nsv: its subvectors; enc: nearest codeword per
    * subvector), composing after `e` + both build chains +
    * [[nvBatchCte]]. Single-sourced between `sim_ivfpq_append`'s
    * oracle and the post-append serving view
    * (`sim_ann_ivfpq_extended`), so the maintenance arithmetic cannot
    * diverge between the write face and the read face. */
  private lazy val nvEncodeCtes: String = s"""cellq AS (
          SELECT vec_id, centroid_id FROM (
            SELECT nv.vec_id, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY nv.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, $Dim),
                  i -> (nv.emb[i] - c.cemb[i]) * (nv.emb[i] - c.cemb[i]))) ASC,
                c.centroid_id) AS rn
            FROM nv, c3 c) x
          WHERE rn = 1),
        nsv AS (
          SELECT vec_id, s.sub,
                 emb[(s.sub * $PqSubDim + 1):(s.sub * $PqSubDim + $PqSubDim)]
                   AS semb
          FROM nv, range(0, $PqSub) s(sub)),
        enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT nsv.vec_id, nsv.sub, c.code,
              ROW_NUMBER() OVER (PARTITION BY nsv.vec_id, nsv.sub ORDER BY
                list_sum(list_transform(generate_series(1, $PqSubDim),
                  i -> (nsv.semb[i] - c.cemb[i]) * (nsv.semb[i] - c.cemb[i]))) ASC,
                c.code) AS rn
            FROM nsv JOIN pc2 c ON c.sub = nsv.sub) x
          WHERE rn = 1)"""

  /** The one CTE both index builds hang off: the embedding table as
    * DOUBLE[] arrays. Factored out so [[ivfBuildCtes]] and
    * [[pqBuildCtes]] compose into a single statement for the IVF+PQ
    * oracle ([[ivfPqBuildCtes]]) without defining `e` twice. */
  private[operators] val embCteSql: String =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"

  /** The k-means build as a CTE chain ending in `fin` (assignments) and
    * `c3` (final centroids) — the shared prefix of both IVF oracles
    * (and of `dedup_semantic`'s, via [[ivfAssignedFor]]). */
  private[operators] lazy val ivfBuildCtes: String =
    s"$embCteSql,\n$ivfBuildChain"

  /** [[ivfBuildCtes]] minus the `WITH e` head — composable after any
    * chain that already defines `e`. */
  private[operators] lazy val ivfBuildChain: String = {
    def assign(a: String, c: String): String = s"""
        $a AS (
          SELECT vec_id, emb, centroid_id FROM (
            SELECT e.vec_id, e.emb, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, $Dim),
                  i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i]))) ASC,
                c.centroid_id) AS rn
            FROM e, $c c) x
          WHERE rn = 1)"""
    def means(c: String, a: String): String =
      decimalMeansCte(c, a, Seq("centroid_id"), "emb", Dim)
    s"""
        seeds AS (
          SELECT vec_id, emb FROM e
          ORDER BY $seedHashSql, vec_id
          LIMIT 8),
        c0 AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT)
                   AS centroid_id,
                 emb AS cemb
          FROM seeds),
        ${assign("a1", "c0")},
        ${means("c1", "a1")},
        ${assign("a2", "c1")},
        ${means("c2", "a2")},
        ${assign("a3", "c2")},
        ${means("c3", "a3")},
        ${assign("fin", "c3")}"""
  }

  private lazy val ivfOracleSql: String = s"""
        $ivfBuildCtes,
        q AS (
          SELECT vec_id AS query_id, emb AS qemb, centroid_id AS qcell
          FROM fin WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, q.qcell, f.vec_id,
            round(
              list_sum(list_transform(generate_series(1, len(q.qemb)),
                i -> q.qemb[i] * f.emb[i])) /
              (sqrt(list_sum(list_transform(q.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(f.emb, x -> x*x)))), 9) AS cos_sim
          FROM q JOIN fin f ON f.centroid_id = q.qcell
          WHERE f.vec_id <> q.query_id)
        SELECT query_id, qcell, rnk, vec_id, cos_sim FROM (
          SELECT query_id, qcell, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored) r
        WHERE rnk <= 5
        ORDER BY query_id, rnk"""

  /** Multiprobe twin: ranks every cell by the same l2 distance the
    * assignment argmin used (identical arithmetic, identical tie-break)
    * and scans the top [[IvfNProbe]] cells per query. */
  private lazy val ivfProbeOracleSql: String = s"""
        $ivfBuildCtes,
        $cellProbesSql,
        scored AS (
          SELECT p.query_id, f.vec_id,
            round(
              list_sum(list_transform(generate_series(1, len(p.qemb)),
                i -> p.qemb[i] * f.emb[i])) /
              (sqrt(list_sum(list_transform(p.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(f.emb, x -> x*x)))), 9) AS cos_sim
          FROM probes p JOIN fin f ON f.centroid_id = p.pcell
          WHERE f.vec_id <> p.query_id)
        SELECT query_id, rnk, vec_id, cos_sim FROM (
          SELECT query_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored) r
        WHERE rnk <= 5
        ORDER BY query_id, rnk"""

  /** Self-contained value oracle for `sim_ann_lsh`: the 6 hyperplanes
    * are literal splitmix64 values (no RNG state), so the SQL carries
    * all 6×64 components and DuckDB recomputes bucket signs, hamming-1
    * probes, the restricted scan, and the final ranking end to end.
    * `Double.toString` round-trips exactly through DuckDB's correctly-
    * rounded parser, and the sign test `dot > 0` is ulp-robust: a plane
    * dot within float-noise of zero has ~0 probability on continuous
    * embeddings (and a flip would fail the hash compare loudly). */
  /** The 6×64 LSH plane components as DuckDB VALUES rows — shared by
    * the LSH and graph-ANN oracles so the bucket assignment cannot
    * drift between them. */
  private lazy val planeRowsSql: String =
    (0 until 6).map { j =>
      val comps = (0 until Dim)
        .map(i => graft.functions.VectorFunctions.planeComponent(j, i, Dim))
        .mkString(", ")
      s"($j, [$comps])"
    }.mkString(",\n            ")

  /** Full value oracle for the graph-ANN family: DuckDB independently
    * rebuilds the buckets, the hamming-1 candidate pairs, the top-M
    * neighbor graph, the entry points, and every unrolled beam round —
    * the whole navigable-graph mechanism is hash-checked end to end,
    * like the IVF Lloyd unroll. Parameterized on the entry-selection
    * CTEs (which must end in `ent(query_id, vec_id)`), the candidate
    * UNIVERSE `cu` ("e" for the unfiltered walks; a filtered CTE name
    * declared inside `entryCtes` for `sim_ann_graph_filtered`, where
    * every beam round scores only universe members), and `twoHop`
    * (the filtered walk's route-through-non-passers expansion). */
  private def graphOracleSqlFor(entryCtes: String,
      cu: String = "e", twoHop: Boolean = false): String = {
    def cosSql(a: String, b: String) =
      s"""round(
              list_sum(list_transform(generate_series(1, $Dim),
                i -> $a[i] * $b[i])) /
              (sqrt(list_sum(list_transform($a, x -> x*x))) *
               sqrt(list_sum(list_transform($b, x -> x*x)))), 9)"""
    // The filtered walk routes THROUGH non-passing neighbors (two-hop
    // expansion; the intermediate node is never scored — the cu join
    // below drops non-passers before any cosine).
    def hop2(p: Int): String =
      if (!twoHop) ""
      else s"""
            UNION ALL
            SELECT b.query_id, n2.v AS vec_id
            FROM beam$p b JOIN nbr n ON n.u = b.vec_id
            JOIN nbr n2 ON n2.u = n.v"""
    val rounds = (1 to GraphRounds).map { r =>
      val p = r - 1
      s""",
        cand$r AS (
          SELECT DISTINCT query_id, vec_id FROM (
            SELECT query_id, vec_id FROM beam$p
            UNION ALL
            SELECT b.query_id, n.v AS vec_id
            FROM beam$p b JOIN nbr n ON n.u = b.vec_id${hop2(p)}) t$r),
        beam$r AS (
          SELECT query_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, vec_id) AS rn
          FROM (
            SELECT c.query_id, c.vec_id,
                   ${cosSql("q.qemb", "e.emb")} AS cos_sim
            FROM cand$r c
            JOIN $cu e ON e.vec_id = c.vec_id
            JOIN q ON q.query_id = c.query_id
            WHERE c.vec_id <> c.query_id) s$r
          QUALIFY rn <= $GraphBeam)"""
    }.mkString
    s"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        $lshBucketCtes,
        pr AS (
          SELECT vec_id AS u, emb AS uemb,
                 unnest(list_prepend(bucket,
                   list_transform(generate_series(0, 5),
                     j -> xor(bucket, 1::BIGINT << j)))) AS probe
          FROM be),
        nbr0 AS (
          SELECT u, v, cs FROM (
            SELECT pr.u, b.vec_id AS v,
                   ${cosSql("pr.uemb", "b.emb")} AS cs,
                   ROW_NUMBER() OVER (PARTITION BY pr.u
                     ORDER BY ${cosSql("pr.uemb", "b.emb")} DESC, b.vec_id)
                     AS rn
            FROM pr JOIN be b ON b.bucket = pr.probe AND b.vec_id <> pr.u)
          WHERE rn <= $GraphM),
        und AS (
          SELECT u, v, cs FROM nbr0
          UNION
          SELECT v AS u, u AS v, cs FROM nbr0),
        nbr AS (
          SELECT u, v FROM (
            SELECT u, v,
                   ROW_NUMBER() OVER (PARTITION BY u
                     ORDER BY cs DESC, v) AS rn
            FROM und)
          WHERE rn <= $GraphDegCap),
        q AS (SELECT vec_id AS query_id, emb AS qemb
              FROM e WHERE vec_id < 5),
        $entryCtes,
        beam0 AS (
          SELECT query_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, vec_id) AS rn
          FROM (
            SELECT ent.query_id, ent.vec_id,
                   ${cosSql("q.qemb", "e.emb")} AS cos_sim
            FROM ent
            JOIN q ON q.query_id = ent.query_id
            JOIN $cu e ON e.vec_id = ent.vec_id
            WHERE ent.vec_id <> ent.query_id) s0
          QUALIFY rn <= $GraphBeam)$rounds
        SELECT query_id, CAST(rn AS BIGINT) AS rnk, vec_id, cos_sim
        FROM beam$GraphRounds
        WHERE rn <= 5
        ORDER BY query_id, rnk"""
  }

  /** Build-chain CTE `c`: per `keys` group of `a`, the mean of the
    * `vec` vectors (dims 1..`dim`), each component summed exactly as
    * DECIMAL(27,7) and rounded to 6 decimals — the Lloyd update of
    * both the IVF and the PQ build. */
  private def decimalMeansCte(c: String, a: String, keys: Seq[String],
      vec: String, dim: Int): String = {
    val (k, ak) = (keys.mkString(", "), keys.map("a." + _).mkString(", "))
    s"""
        $c AS (
          SELECT $k, list(m ORDER BY pos) AS cemb FROM (
            SELECT $ak, t.pos,
              round(CAST(SUM(CAST(round(a.$vec[t.pos], 7) AS DECIMAL(27,7)))
                  AS DOUBLE) / COUNT(*), 6) AS m
            FROM $a a, range(1, ${dim + 1}) t(pos)
            GROUP BY $ak, t.pos) g
          GROUP BY $k)"""
  }

  /** Oracle CTEs `planes`, `bkt`, `be`: each vector of `e` with its
    * random-hyperplane LSH bucket (sign bits against [[planeRowsSql]]). */
  private lazy val lshBucketCtes: String = s"""planes AS (
          SELECT * FROM (VALUES
            $planeRowsSql) t(j, p)),
        bkt AS (
          SELECT e.vec_id,
                 CAST(SUM(CASE WHEN list_sum(list_transform(
                        generate_series(1, $Dim), i -> e.emb[i] * pl.p[i])) > 0
                      THEN (1::BIGINT << pl.j) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, planes pl
          GROUP BY e.vec_id),
        be AS (
          SELECT e.vec_id, e.emb, bkt.bucket
          FROM e JOIN bkt USING (vec_id))"""

  /** Oracle CTE `qc`: each query's nearest IVF cell. */
  private lazy val nearestCellCte: String = s"""qc AS (
          SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
              $cellRankSql
            FROM q, c3 c) x
          WHERE pr = 1)"""

  /** Flat entries: one global seed-hash list shared by every query. */
  private lazy val graphOracleSql: String = graphOracleSqlFor(s"""
        ent AS (
          SELECT q.query_id, s.vec_id
          FROM q, (
            SELECT vec_id FROM (
              SELECT vec_id, $seedHashSql AS h FROM e
              ORDER BY h, vec_id LIMIT $GraphEntries)) s)""")

  /** Hierarchical entries: the IVF Lloyd unroll ([[ivfBuildChain]],
    * composable after the graph chain's identical `e`) gives `c3`
    * centroids + `fin` assignments; each query takes the
    * [[GraphEntries]] smallest seed-hash members of its nearest cell
    * (same l2 + tie-break arithmetic as the multiprobe oracle). */
  private lazy val graphHierOracleSql: String = graphOracleSqlFor(s"""
        $ivfBuildChain,
        $nearestCellCte,
        ent AS (
          SELECT query_id, vec_id FROM (
            SELECT qc.query_id, f.vec_id,
              ROW_NUMBER() OVER (PARTITION BY qc.query_id
                ORDER BY $seedHashSql, f.vec_id) AS rn
            FROM qc JOIN fin f ON f.centroid_id = qc.centroid_id) y
          WHERE rn <= $GraphEntries)""")

  /** Filtered walk oracle: hierarchical entries restricted to
    * predicate PASSERS of the query's nearest cell, and candidate
    * universe `eu` = passers — every beam round's scoring join runs
    * against `eu`, so a non-passing neighbor is never scored, exactly
    * the Spark walk's discipline. */
  private lazy val graphFilteredOracleSql: String = graphOracleSqlFor(s"""
        $ivfBuildChain,
        $nearestCellCte,
        eu AS (
          SELECT vec_id, emb FROM e
          WHERE vec_id IN
            (SELECT vec_id FROM embeddings WHERE label % 7 = 3)),
        ent AS (
          SELECT query_id, vec_id FROM (
            SELECT qc.query_id, f.vec_id,
              ROW_NUMBER() OVER (PARTITION BY qc.query_id
                ORDER BY $seedHashSql, f.vec_id) AS rn
            FROM qc JOIN fin f ON f.centroid_id = qc.centroid_id
            WHERE f.vec_id IN
              (SELECT vec_id FROM embeddings WHERE label % 7 = 3)) y
          WHERE rn <= $GraphEntries)""", cu = "eu", twoHop = true)

  private lazy val lshOracleSql: String = {
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        $lshBucketCtes,
        q AS (
          SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
          FROM be WHERE vec_id < 5),
        probes AS (
          SELECT query_id, qemb,
                 unnest(list_prepend(qbucket,
                   list_transform(generate_series(0, 5),
                     j -> xor(qbucket, 1::BIGINT << j)))) AS probe
          FROM q),
        scored AS (
          SELECT p.query_id, b.vec_id, b.bucket,
            round(
              list_sum(list_transform(generate_series(1, $Dim),
                i -> p.qemb[i] * b.emb[i])) /
              (sqrt(list_sum(list_transform(p.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 9) AS cos_sim
          FROM probes p JOIN be b ON b.bucket = p.probe
          WHERE b.vec_id <> p.query_id)
        SELECT query_id, rnk, vec_id, cos_sim, bucket FROM (
          SELECT query_id, vec_id, bucket, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY query_id, rnk"""
  }

  /** Scored (query × candidate) frame both kNN forms rank: 100 query
    * vectors broadcast, candidates streamed, cosine codegen'd. */
  private def knnScored(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val q = e.filter($"vec_id" < 100)
      .select($"vec_id".as("query_id"), $"label".as("true_label"),
        $"emb".as("qemb"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
  }

  /** Shared by `sim_topk_bruteforce` (aggregator) and `sim_topk_window`
    * (window) — one oracle, two plans: a per-round equality proof. */
  private val bruteforceOracleSql = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        pairs AS (
          SELECT q.query_id, e.vec_id,
            round(
              list_sum(list_transform(generate_series(1, len(q.qemb)),
                i -> q.qemb[i] * e.emb[i])) /
              (sqrt(list_sum(list_transform(q.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(e.emb, x -> x*x)))), 9) AS cos_sim
          FROM q, e WHERE e.vec_id <> q.query_id)
        SELECT query_id, rnk, vec_id, cos_sim FROM (
          SELECT query_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM pairs)
        WHERE rnk <= 10
        ORDER BY query_id, rnk"""

  /** Shared by `sim_knn_classify` (aggregator) and `sim_knn_window`
    * (window) — identical oracle = identical results, re-proved every
    * round by the driver's hash compare. */
  private val knnOracleSql = """
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (
          SELECT vec_id AS query_id, label AS true_label, emb AS qemb
          FROM e WHERE vec_id < 100),
        scored AS (
          SELECT q.query_id, q.true_label, e.vec_id, e.label,
            round(
              list_sum(list_transform(generate_series(1, len(q.qemb)),
                i -> q.qemb[i] * e.emb[i])) /
              (sqrt(list_sum(list_transform(q.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(e.emb, x -> x*x)))), 9) AS cos_sim
          FROM q, e WHERE e.vec_id <> q.query_id),
        top5 AS (
          SELECT * FROM (
            SELECT query_id, true_label, label, cos_sim,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM scored)
          WHERE rnk <= 5),
        votes AS (
          SELECT query_id, true_label, label, COUNT(*) AS votes
          FROM top5 GROUP BY query_id, true_label, label)
        SELECT query_id, true_label, label AS pred_label,
               (label = true_label) AS correct
        FROM (
          SELECT query_id, true_label, label, votes,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, label) AS vr
          FROM votes)
        WHERE vr = 1
        ORDER BY query_id"""

  /** Stage 2 of the two-stage rerank queries (`sim_binary_rerank`,
    * `sim_prefix_rerank`): the Q×C stage-1 survivors `cands`
    * (query_id, vec_id) broadcast onto the map-only full-embedding
    * scan `e`, rescored by exact cosine (9 decimals), top 5 per query
    * by the bounded-buffer aggregator. */
  private def rescoreTop5(e: DataFrame, cands: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qemb"))
    val top5 = udaf(new graft.functions.TopKAggregator(5))
    e.join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
      .groupBy($"query_id")
      .agg(top5($"cos_sim", $"vec_id").as("top"))
      .select($"query_id",
        posexplode(arrays_zip($"top.scores", $"top.ids"))
          .as(Seq("i", "pair")))
      .select($"query_id", ($"i" + 1).cast(LongType).as("rnk"),
        $"pair.ids".as("vec_id"), $"pair.scores".as("cos_sim"))
      .orderBy($"query_id", $"rnk")
  }

  /** [[rescoreTop5]] as the oracle tail after a `cand` (query_id,
    * vec_id) CTE over `e`. */
  private lazy val rescoreTop5Sql: String = """q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        scored AS (
          SELECT c.query_id, c.vec_id,
            round(
              list_sum(list_transform(generate_series(1, len(q.qemb)),
                i -> q.qemb[i] * e.emb[i])) /
              (sqrt(list_sum(list_transform(q.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(e.emb, x -> x*x)))), 9) AS cos_sim
          FROM cand c
          JOIN e ON e.vec_id = c.vec_id
          JOIN q ON q.query_id = c.query_id)
        SELECT query_id, rnk, vec_id, cos_sim FROM (
          SELECT query_id, vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY query_id, rnk"""

  override val queries: Map[String, QueryDef] = Map(

    // ── exact brute-force cosine top-10 for 5 query vectors, ranked by
    //    the bounded-buffer aggregator (≤k rows per query cross the
    //    shuffle; no full-candidate window sort) ──
    "sim_topk_bruteforce" -> QueryDef(
      fn = (s, d) => exactTopK(s, embCheckpointed(s, d), 10)
        .orderBy(col("query_id"), col("rnk")),
      oracle = Some(bruteforceOracleSql),
      headline = true),

    // ── window-ranked twin: same oracle, full-candidate row_number —
    //    the equality proof for the aggregator path ──
    "sim_topk_window" -> QueryDef(
      fn = (s, d) => exactTopKWindow(s, embCheckpointed(s, d), 10)
        .orderBy(col("query_id"), col("rnk")),
      oracle = Some(bruteforceOracleSql)),

    // ── maximum-inner-product top-k via the norm-augmentation
    //    reduction (MIPS → cosine) ──
    // Recommendation serving ranks by RAW dot product (norms encode
    // popularity), but every ANN index here is a cosine index — and
    // the textbook bridge (Bachrach et al., RecSys 2014) makes one
    // serve the other: append sqrt(M²−‖x‖²) to each corpus vector
    // (M = max corpus norm) and 0 to the query, making every
    // augmented corpus norm exactly M, so augmented-cosine order IS
    // dot-product order. The fixture embeddings are unit-norm (where
    // MIPS degenerates to cosine), so the corpus is first given the
    // deterministic per-item popularity weight 1 + (vec_id%7)/10 —
    // the item-popularity norms MIPS exists to respect; cosine order
    // cancels the weight, dot order doesn't, and SimilaritySpec gates
    // that the two genuinely diverge. The query runs BOTH rankings —
    // raw dot, and cosine over the literally-constructed augmented
    // vectors — through the bounded TopKAggregator (≤k rows per query
    // cross the shuffle, no WindowExec), joins them per rank, and
    // emits `reduction_agrees`; the oracle rebuilds the weighting,
    // the augmentation (list_append + the same IEEE sqrt/divide) and
    // both rankings, so the reduction's exactness is hash-re-proven
    // every round. M² is ONE broadcast scalar; everything else is
    // the map-only scoring scan of the cosine path.
    "sim_mips_topk" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"emb".as("qemb"))
        val items = e.withColumn("emb",
          transform($"emb",
            x => x * (lit(1.0d) + ($"vec_id" % 7).cast(DoubleType) * lit(0.1d))))
        val m2 = items.agg(max(normSq($"emb")).as("m2"))
        val pairs = items.crossJoin(broadcast(q))
          .filter($"vec_id" =!= $"query_id")
          .crossJoin(broadcast(m2))
          .withColumn("dp", dot($"qemb", $"emb"))
          .withColumn("aug_cos", cosine(
            concat($"qemb", array(lit(0.0d))),
            concat($"emb", array(sqrt($"m2" - normSq($"emb"))))))
        val topk = udaf(new graft.functions.TopKAggregator(10))
        def rank(score: org.apache.spark.sql.Column,
            outId: String, outScore: String) = pairs
          .groupBy($"query_id")
          .agg(topk(score, $"vec_id").as("top"))
          .select($"query_id",
            posexplode(arrays_zip($"top.scores", $"top.ids"))
              .as(Seq("i", "pair")))
          .select($"query_id", ($"i" + 1).cast(LongType).as("rnk"),
            $"pair.ids".as(outId), round($"pair.scores", 9).as(outScore))
        rank($"dp", "vec_by_dot", "dot_sim")
          .join(rank($"aug_cos", "vec_by_aug", "aug_cos"),
            Seq("query_id", "rnk"))
          .withColumn("reduction_agrees", $"vec_by_dot" === $"vec_by_aug")
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        it AS (
          SELECT vec_id,
                 list_transform(emb,
                   x -> x * (1.0 + (vec_id % 7) * 0.1)) AS emb
          FROM e),
        e2 AS (
          SELECT vec_id, emb,
                 list_sum(list_transform(emb, x -> x*x)) AS n2
          FROM it),
        m AS (SELECT MAX(n2) AS m2 FROM e2),
        ax AS (
          SELECT vec_id, emb, n2,
                 list_append(emb, sqrt(m.m2 - n2)) AS aemb
          FROM e2, m),
        q AS (
          SELECT vec_id AS query_id, emb AS qemb,
                 list_append(emb, 0.0) AS qaemb
          FROM e WHERE vec_id < 5),
        pairs AS (
          SELECT q.query_id, ax.vec_id,
            list_sum(list_transform(generate_series(1, len(q.qemb)),
              i -> q.qemb[i] * ax.emb[i])) AS dp,
            list_sum(list_transform(generate_series(1, len(q.qaemb)),
              i -> q.qaemb[i] * ax.aemb[i])) /
            (sqrt(list_sum(list_transform(q.qaemb, x -> x*x))) *
             sqrt(list_sum(list_transform(ax.aemb, x -> x*x)))) AS aug
          FROM q, ax WHERE ax.vec_id <> q.query_id),
        bydot AS (
          SELECT query_id, rnk, vec_id AS vec_by_dot,
                 round(dp, 9) AS dot_sim
          FROM (SELECT query_id, vec_id, dp,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY dp DESC, vec_id) AS rnk
                FROM pairs)
          WHERE rnk <= 10),
        byaug AS (
          SELECT query_id, rnk, vec_id AS vec_by_aug,
                 round(aug, 9) AS aug_cos
          FROM (SELECT query_id, vec_id, aug,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY aug DESC, vec_id) AS rnk
                FROM pairs)
          WHERE rnk <= 10)
        SELECT bydot.query_id, bydot.rnk, vec_by_dot, dot_sim,
               vec_by_aug, aug_cos,
               vec_by_dot = vec_by_aug AS reduction_agrees
        FROM bydot JOIN byaug
          ON bydot.query_id = byaug.query_id AND bydot.rnk = byaug.rnk
        ORDER BY bydot.query_id, bydot.rnk""")),

    // ── k-center diversity sample (Gonzalez farthest-point traversal) ──
    // The coreset/diversity sampler for embedding-space COVERAGE
    // (Gonzalez 1985, the 2-approximation for k-center): start from
    // vec_id 0, then repeatedly pick the point FARTHEST from everything
    // picked so far (max over corpus of min over picks, squared L2
    // rounded to 9 — deterministic in both engines, ties → smallest
    // id). Six picks are emitted because pick k+1's separation IS the
    // coverage radius of the first k — the Gonzalez invariant that
    // separations are non-increasing is gated in SimilaritySpec. Unlike
    // sim_mmr_rerank (query-conditioned, pool-restricted) this is the
    // query-free GLOBAL selection a curation pipeline runs to seed
    // balanced training mixes or pick k-means-grade centers with a
    // guarantee. Each round is one map-side broadcast join against the
    // ≤5-row picked set + one map-side-combined min + one max-struct
    // argmax — O(rounds) passes over the corpus, no pairwise blowup.
    "sim_kcenter_sample" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        var all = e.filter($"vec_id" === 0L)
          .select($"vec_id", $"emb", lit(1L).as("pick_no"),
            lit(0.0d).as("sep"))
          .pin()
        for (r <- 2 to 6) {
          val cand = e.join(all.select($"vec_id"), Seq("vec_id"),
            "left_anti")
          val mind = cand.as("c")
            .crossJoin(broadcast(all.select($"emb".as("pemb"))))
            .select($"c.vec_id".as("vec_id"),
              round(l2sq($"c.emb", $"pemb"), 9).as("d2"))
            .groupBy($"vec_id").agg(min($"d2").as("mind"))
          val pick = mind.groupBy()
            .agg(max(struct($"mind".as("sc"), (-$"vec_id").as("nid")))
              .as("m"))
            .select((-$"m.nid").as("vec_id"))
          all = all.unionByName(
              mind.join(pick, Seq("vec_id"))
                .join(e.select($"vec_id", $"emb"), Seq("vec_id"))
                .select($"vec_id", $"emb", lit(r.toLong).as("pick_no"),
                  $"mind".as("sep")))
            .pin()
        }
        all.select($"pick_no", $"vec_id", $"sep").orderBy($"pick_no")
      },
      oracle = Some {
        def l2Sql(a: String, b: String) =
          s"""round(list_sum(list_transform(generate_series(1, len($a)),
                i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 9)"""
        val rounds = (2 to 6).map { r =>
          val p = r - 1
          s""",
        cand$r AS (
          SELECT e.* FROM e ANTI JOIN all$p x ON x.vec_id = e.vec_id),
        mind$r AS (
          SELECT c.vec_id, MIN(${l2Sql("c.emb", "s.emb")}) AS mind
          FROM cand$r c, all$p s
          GROUP BY c.vec_id),
        sel$r AS (
          SELECT m.vec_id, e.emb, CAST($r AS BIGINT) AS pick_no,
                 m.mind AS sep
          FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id)
                  AS rr FROM mind$r) m JOIN e ON e.vec_id = m.vec_id
          WHERE m.rr = 1),
        all$r AS (SELECT * FROM all$p UNION ALL SELECT * FROM sel$r)"""
        }.mkString
        s"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        all1 AS (
          SELECT vec_id, emb, CAST(1 AS BIGINT) AS pick_no, 0.0 AS sep
          FROM e WHERE vec_id = 0)$rounds
        SELECT pick_no, vec_id, sep FROM all6 ORDER BY pick_no"""
      }),

    // ── MMR diversification rerank (maximal marginal relevance) ──
    // The serving-side fix for "my top-5 are five copies of the same
    // document" (Carbonell & Goldstein, SIGIR 1998): greedily pick 5
    // of the cosine top-20, each round maximizing
    // λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s) with λ = 0.7 — the
    // redundancy penalty is the max similarity to what's ALREADY
    // picked, so near-duplicates of an earlier pick are suppressed
    // (8-9 of the 25 fixture picks differ from the plain top-5;
    // SimilaritySpec gates the divergence). The pool is the bounded
    // TopKAggregator's top-20 per query; the 4 greedy rounds then run
    // over O(queries × 20) rows — each ONE equality join against the
    // ≤4-row picked set, a map-side-combined max, and a max-struct
    // argmax (ties → smallest vec_id). Every similarity is rounded to
    // 9 digits before comparison in BOTH engines, so the greedy
    // trajectory is deterministic and the oracle (all 4 rounds
    // unrolled) replays it exactly.
    "sim_mmr_rerank" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"emb".as("qemb"))
        val topk = udaf(new graft.functions.TopKAggregator(20))
        val pool = e.crossJoin(broadcast(q))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("rel", round(cosine($"qemb", $"emb"), 9))
          .groupBy($"query_id")
          .agg(topk($"rel", $"vec_id").as("top"))
          .select($"query_id",
            posexplode(arrays_zip($"top.scores", $"top.ids"))
              .as(Seq("i", "p")))
          .select($"query_id", $"p.ids".as("vec_id"), $"p.scores".as("rel"))
          .join(e.select($"vec_id", $"emb"), Seq("vec_id"))
          .select($"query_id", $"vec_id", $"rel", $"emb")
          .pin() // all 4 rounds + pick 1 read this
        def argmax(cand: org.apache.spark.sql.DataFrame, score: String) =
          cand.groupBy($"query_id")
            .agg(max(struct(col(score).as("sc"), (-$"vec_id").as("nid")))
              .as("m"))
            .select($"query_id", (-$"m.nid").as("vec_id"))
        val p1 = pool.join(argmax(pool, "rel"), Seq("query_id", "vec_id"))
          .select($"query_id", $"vec_id", $"rel", $"emb",
            lit(1L).as("pick_no"), lit(0.0d).as("maxsim"),
            round(lit(0.7d) * $"rel", 9).as("score"))
          .pin()
        var all = p1
        for (r <- 2 to 5) {
          val rem = pool.join(all.select($"query_id", $"vec_id"),
            Seq("query_id", "vec_id"), "left_anti")
          val sims = rem.as("c")
            .join(all.select($"query_id".as("sq"), $"emb".as("semb")),
              $"c.query_id" === $"sq")
            .select($"c.query_id".as("query_id"), $"c.vec_id".as("vec_id"),
              round(cosine($"c.emb", $"semb"), 9).as("sim"))
            .groupBy($"query_id", $"vec_id").agg(max($"sim").as("maxsim"))
          val scored = rem.join(sims, Seq("query_id", "vec_id"))
            .withColumn("score",
              round(lit(0.7d) * $"rel" - lit(0.3d) * $"maxsim", 9))
          val pick = scored
            .join(argmax(scored, "score"), Seq("query_id", "vec_id"))
            .select($"query_id", $"vec_id", $"rel", $"emb",
              lit(r.toLong).as("pick_no"), $"maxsim", $"score")
          all = all.unionByName(pick).pin()
        }
        all.select($"query_id", $"pick_no", $"vec_id", $"rel",
            $"maxsim", $"score")
          .orderBy($"query_id", $"pick_no")
      },
      oracle = Some {
        def cosSql(a: String, b: String) =
          s"""round(list_sum(list_transform(generate_series(1, len($a)),
                i -> $a[i] * $b[i])) /
              (sqrt(list_sum(list_transform($a, x -> x*x))) *
               sqrt(list_sum(list_transform($b, x -> x*x)))), 9)"""
        val rounds = (2 to 5).map { r =>
          val p = r - 1
          s""",
        rem$r AS (
          SELECT p.* FROM pool p ANTI JOIN all$p s
            ON s.query_id = p.query_id AND s.vec_id = p.vec_id),
        sims$r AS (
          SELECT r.query_id, r.vec_id,
                 MAX(${cosSql("r.emb", "s.emb")}) AS maxsim
          FROM rem$r r JOIN all$p s ON s.query_id = r.query_id
          GROUP BY r.query_id, r.vec_id),
        scored$r AS (
          SELECT rem$r.*, sims$r.maxsim,
                 round(0.7 * rel - 0.3 * maxsim, 9) AS score
          FROM rem$r JOIN sims$r USING (query_id, vec_id)),
        sel$r AS (
          SELECT query_id, vec_id, rel, emb,
                 CAST($r AS BIGINT) AS pick_no, maxsim, score
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, vec_id) AS rr FROM scored$r)
          WHERE rr = 1),
        all$r AS (SELECT * FROM all$p UNION ALL SELECT * FROM sel$r)"""
        }.mkString
        s"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qemb
              FROM e WHERE vec_id < 5),
        sc0 AS (
          SELECT q.query_id, e.vec_id, ${cosSql("q.qemb", "e.emb")} AS rel,
                 e.emb
          FROM q, e WHERE e.vec_id <> q.query_id),
        pool AS (
          SELECT query_id, vec_id, rel, emb FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rel DESC, vec_id) AS rnk FROM sc0)
          WHERE rnk <= 20),
        sel1 AS (
          SELECT query_id, vec_id, rel, emb, CAST(1 AS BIGINT) AS pick_no,
                 0.0 AS maxsim, round(0.7 * rel, 9) AS score
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, vec_id) AS rr FROM pool)
          WHERE rr = 1),
        all1 AS (SELECT * FROM sel1)$rounds
        SELECT query_id, pick_no, vec_id, rel, maxsim, score
        FROM all5 ORDER BY query_id, pick_no"""
      }),

    // ── random-hyperplane LSH with hamming-1 multiprobe ──
    // FULLY value-checked: the hyperplanes are pure splitmix64
    // arithmetic ([[graft.functions.VectorFunctions.planeComponent]]),
    // so their 6×64 component values are embedded in the oracle SQL as
    // literals and DuckDB independently rebuilds the bucket assignment,
    // the probe set, the restricted candidate scan, and the ranking.
    "sim_ann_lsh" -> QueryDef(
      fn = (s, d) => lshTopK(s, embCheckpointed(s, d), 5)
        .orderBy(col("query_id"), col("rnk")),
      oracle = Some(lshOracleSql)),

    // ── graph-based ANN: NSW-style beam search over a bounded-degree
    //    neighbor graph ──
    // The one major ANN family IVF/PQ/LSH don't cover: navigable-graph
    // search (HNSW's base layer), re-expressed Spark-first. The graph
    // build is a bucketed equality join (own LSH bucket + hamming-1
    // flips, so cross-bucket edges keep it navigable) + a per-node
    // top-M window — n·M edges, never all-pairs; the search is
    // GraphRounds superstep joins with a width-GraphBeam scored
    // frontier (the BFS machinery with a beam), so per-round cost is
    // queries × beam × M — independent of corpus size once the graph
    // exists. Entry points are the GraphEntries smallest seed-hash
    // nodes: deterministic, engine-reproducible. FULLY value-checked:
    // the oracle rebuilds planes, buckets, candidate pairs, the top-M
    // graph, entries, and every unrolled beam round in SQL. Recall is
    // priced against brute force in sim_ann_recall's `graph` row at a
    // floor MATCHING ivf_probe3's (0.50) on a matched probe budget:
    // measured recall@5 0.60 (sf0.001) / 0.64 (sf0.01) at 171-185
    // scanned candidates/query vs probe3's ~187 (3/8 of the corpus).
    // The symmetrized, 2M-capped adjacency is load-bearing: the
    // directed top-M graph alone measured 0.36 (in-links are what
    // make a near-uniform graph navigable).
    "sim_ann_graph" -> QueryDef(
      fn = (s, d) => {
        lazy val e = embCheckpointed(s, d)
        graphBeamSearch(s, e, edgesIn = Some(graphEdgesFor(s, d, e)))._1
          .filter(col("rnk") <= 5)
          .orderBy(col("query_id"), col("rnk"))
      },
      oracle = Some(graphOracleSql)),

    // ── graph ANN with hierarchical entry selection ──
    // HNSW's layered discipline from machinery the repo already has:
    // the flat search's fixed global entries pay a long random-walk
    // prefix toward the query's region at 10⁹ vectors; here the 8-row
    // IVF centroid table acts as the coarse layer — each query ranks
    // the centroids (one broadcast 8-row crossJoin, the multiprobe
    // arithmetic exactly) and enters the graph at the GraphEntries
    // smallest seed-hash members of its NEAREST cell. Probe budget is
    // MATCHED with sim_ann_graph (same entry count/beam/rounds; the 8
    // centroid distances are index metadata, not corpus probes) and
    // the plan past entry selection is identical: frontier = queries ×
    // beam × M rows, never corpus-sized. FULLY value-checked: the
    // oracle composes the graph-build unroll with the IVF Lloyd unroll
    // and replays the per-query cell choice, entries, and every beam
    // round. SimilaritySpec holds hier recall ≥ flat recall on a 10×
    // clustered fixture at the matched budget — measured recall@5
    // 0.56 (hier, 1262 scanned) vs 0.32 (flat, 1463 scanned): the
    // flat walk collapses exactly as predicted once the corpus has
    // structure, while cell-local entries hold the 0.50 gate — and
    // sim_ann_recall prices it at the same 0.50 floor every round.
    "sim_ann_graph_hier" -> QueryDef(
      fn = (s, d) => {
        lazy val e = embCheckpointed(s, d)
        graphBeamSearchHier(s, e, edgesIn = Some(graphEdgesFor(s, d, e)),
            modelIn = Some(ivfModelFor(s, d)))._1
          .filter(col("rnk") <= 5)
          .orderBy(col("query_id"), col("rnk"))
      },
      oracle = Some(graphHierOracleSql),
      // HEADLINED round 12 (verdict #2): the layered beam walk is the
      // most expensive ANN plan in the pack and was unpriced
      headline = false),

    // ── FILTERED graph ANN: the predicate inside the beam walk ──
    // The graph-walk sibling of sim_ann_filtered (round-12 verdict
    // #3): "nearest passer" ≠ "nearest, then filter" — at ~14%
    // selectivity post-filtering the unfiltered walk's beam keeps
    // under one row per query (SimilaritySpec demonstrates the
    // under-return). Here the predicate rides INSIDE the walk: entry
    // points are the GraphEntries smallest seed-hash PASSERS of the
    // query's nearest IVF cell, and each round's neighbor expansion
    // joins the passer universe BEFORE any cosine is computed, so the
    // full beam width is spent on survivors. The graph and the IVF
    // coarse layer remain unfiltered shared index artifacts — the
    // filter is query-time only, so one index serves every predicate
    // and candidate work SCALES DOWN with selectivity. FULLY
    // value-checked: the oracle composes the graph unroll, the IVF
    // unroll, the passer-restricted entries, and every beam round
    // over the passer universe. SimilaritySpec holds the walk to a
    // recall floor vs FILTERED brute force at a selectivity where
    // post-filtering provably under-returns.
    "sim_ann_graph_filtered" -> QueryDef(
      fn = (s, d) => {
        lazy val e = embCheckpointed(s, d)
        graphBeamSearchHier(s, e,
            edgesIn = Some(graphEdgesFor(s, d, e)),
            modelIn = Some(ivfModelFor(s, d)),
            pred = Some(col("label") % 7 === 3))._1
          .filter(col("rnk") <= 5)
          .orderBy(col("query_id"), col("rnk"))
      },
      oracle = Some(graphFilteredOracleSql),
      // HEADLINED round 13: the heaviest new shape of the round (the
      // two-hop filtered beam walk). Post-artifact calibration
      // (persisted NSW + IVF): medians 3.62-4.03 s across two 3-pass
      // runs at load1 ~3 — band top 5.5 (BASELINE.md)
      headline = true),

    // ── ANN index-quality evaluation: recall@5 priced vs brute force ──
    // The operation a real pipeline runs before trusting an ANN index:
    // measure each approximate path's top-k against the exact top-k,
    // AND against its cost. An index earns its keep only if it finds
    // more of the true neighbors than scanning the same NUMBER of
    // random candidates would — scanning fraction f of the corpus
    // uniformly yields expected recall f, so the contract asserted here
    // is recall@5 ≥ 1.5 × (candidates scanned / corpus scanned by
    // brute force). On this fixture (near-uniform synthetic embeddings,
    // the hard case for sign-LSH) all paths clear ~2-3× random;
    // measured recall@5 at sf0.001/0.01: LSH 0.24-0.36, IVF single-cell
    // 0.28, IVF probe3 0.56-0.76, graph beam 0.60-0.64 — each also
    // asserted against an absolute per-method floor (`meets_floor`),
    // with ivf_probe3's floor set ABOVE the single-cell measurement so
    // the multiprobe gain is itself part of the contract, and the
    // graph row held to probe3's own 0.50 floor at a MATCHED probe
    // budget (171-185 scanned/query vs probe3's ~187).
    // The recall VALUE is computed Spark-side, so — as with
    // `agg_approx_distinct` — the oracle-checkable contract is the
    // assertion: all counts are exact integers, the ratios
    // deterministic divisions (and SimilaritySpec recomputes the
    // recalls independently from the public query outputs).
    "sim_ann_recall" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        // ONE checkpointed embeddings frame feeds the exact baseline,
        // both ANN candidate pipelines, and the corpus count — a single
        // parquet scan and a single resident copy for the whole eval
        val e = embCheckpointed(s, d)
        val exact = exactTopK(s, e, 5).select($"query_id", $"vec_id")
          .pin() // consumers below
        val nCorpus = e.count()
        def eval(method: String, floor: Double, cand: DataFrame): DataFrame = {
          val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
          val scored = cand.select($"query_id", $"vec_id", $"cos_sim")
            .pin() // counted AND ranked below
          val top5 = scored
            .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 5)
          // recall denominates over the TRUE top-5 rows (exact left-join
          // found), so a query whose bucket returns fewer than 5
          // candidates counts its misses instead of shrinking the
          // denominator into a precision number
          exact
            .join(top5.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
            .agg(
              countDistinct($"query_id").as("n_queries"),
              (sum(coalesce($"hit", lit(0))).cast(DoubleType) /
                count(lit(1)).cast(DoubleType)).as("recall"))
            .join(scored.agg(count(lit(1)).as("n_scanned")))
            .select(lit(method).as("method"), $"n_queries",
              ($"recall" >= lit(1.5) * $"n_scanned".cast(DoubleType) /
                (lit(5.0) * (nCorpus - 1))).as("beats_random_scan"),
              ($"recall" >= floor).as("meets_floor"))
        }
        // ONE IVF build feeds both the single-cell and multiprobe evals
        // the persisted index artifacts serve every row below — the
        // recall eval prices search quality, not index builds
        val edges = graphEdgesFor(s, d, e)
        val (assigned, cents) = ivfModelFor(s, d)
        // floors: safely under the measured recall@5 at sf0.001/0.01
        // (cell1 0.28, probe3 0.56-0.76, lsh 0.24-0.36) but above what
        // the next-cheaper path reaches — ivf_probe3's floor 0.50
        // EXCEEDS the single-cell measurement, so the multiprobe gain
        // itself is oracle-asserted every round (deterministic inputs:
        // these are exact computations on fixed data, no drift)
        eval("graph", 0.50, graphBeamSearch(s, e,
            edgesIn = Some(edges))._2)
          .unionAll(eval("graph_hier", 0.50, graphBeamSearchHier(s, e,
            edgesIn = Some(edges), modelIn = Some((assigned, cents)))._2))
          .unionAll(eval("ivf_cell1", 0.25, ivfCandidatesFrom(s, assigned)))
          .unionAll(eval("ivf_probe3", 0.50,
            ivfProbedCandidates(s, assigned, cents, IvfNProbe)))
          .unionAll(eval("lsh", 0.18, lshCandidates(s, e)))
          .orderBy($"method")
      },
      oracle = Some("""
        SELECT 'graph' AS method, 5::BIGINT AS n_queries,
               TRUE AS beats_random_scan, TRUE AS meets_floor
        UNION ALL
        SELECT 'graph_hier', 5::BIGINT, TRUE, TRUE
        UNION ALL
        SELECT 'ivf_cell1', 5::BIGINT, TRUE, TRUE
        UNION ALL
        SELECT 'ivf_probe3', 5::BIGINT, TRUE, TRUE
        UNION ALL
        SELECT 'lsh', 5::BIGINT, TRUE, TRUE
        ORDER BY method""")),

    // ── IVF: k-means cells (deterministic seeds + Lloyd iterations),
    //    search only the query's cell ──
    // The real inverted-file build, not a toy seeding: 8 seeds chosen
    // by an avalanche hash of vec_id (spread, reproducible), refined by
    // 3 Lloyd rounds. Each round is one broadcast-crossJoin argmin
    // (codegen'd distance HOFs, window tie-broken by centroid id) plus
    // a (cell, dim)-keyed mean — all distributed; only the 8×64 centroid
    // table ever sits on the driver side of a broadcast. Means are
    // quantized to 6 digits so run-order fp wobble cannot flip a
    // near-tie assignment between runs.
    // FULLY value-checked with no side state: the whole k-means build
    // is engine-reproducible arithmetic (hash seeds, decimal-exact
    // means — see [[ivfModel]]), so the oracle unrolls seeds +
    // 3 Lloyd rounds + final assignment + restricted search + ranking
    // entirely in SQL ([[ivfOracleSql]]).
    "sim_ann_ivf" -> QueryDef(
      fn = (s, d) =>
        ivfTopKFrom(s, ivfAssignedFor(s, d), 5)
          .orderBy(col("query_id"), col("rnk")),
      oracle = Some(ivfOracleSql)),

    // ── IVF multiprobe: scan the 3 nearest cells, not just the
    //    assignment cell ──
    // Single-cell search caps recall at whatever fraction of true
    // neighbors shares the query's cell (~0.32-0.40 measured on this
    // fixture); probing the next-nearest cells is the standard
    // recall/cost dial. The probe ranking reuses the assignment's exact
    // distance arithmetic, so the oracle unrolls it the same way the
    // Lloyd rounds unroll ([[ivfProbeOracleSql]]) — the whole multiprobe
    // mechanism is value-checked end to end.
    "sim_ann_ivf_probe" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (assigned, cents) = ivfModelFor(s, d)
        val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
        ivfProbedCandidates(s, assigned, cents, IvfNProbe)
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 5)
          .select($"query_id", $"rnk".cast(LongType).as("rnk"),
            $"vec_id", $"cos_sim")
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(ivfProbeOracleSql)),

    // ── filtered ANN: predicate + vector search in ONE scan ──
    // Production retrieval is rarely "nearest anywhere": it is
    // "nearest WHERE lang = X AND ts > T". Post-filtering an
    // unfiltered top-k silently UNDER-RETURNS when the predicate is
    // selective (filter 10% of the corpus and an unfiltered top-5
    // keeps ~0.5 survivors — SimilaritySpec proves the miss on this
    // fixture); the correct shape pushes the predicate INTO the index
    // scan: filter each probed cell's rows BEFORE any distance is
    // computed, then rank only survivors, so the full k comes back
    // whenever the probed cells hold k matches. Here the predicate is
    // label % 7 = 3 (~10% selective); the recall contract vs the
    // FILTERED brute-force top-5 lives in SimilaritySpec. 100 TB
    // shape: the filter is a codegen'd predicate on the cell scan —
    // candidate work SHRINKS with selectivity, the broadcast probe
    // fan-out is unchanged, and a partition-pruned label column would
    // skip whole files before the scan.
    "sim_ann_filtered" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (assigned, cents) = ivfModelFor(s, d)
        val q = assigned.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"emb".as("qemb"))
        val wProbe = Window.partitionBy($"query_id")
          .orderBy($"cdist".asc, $"centroid_id")
        val probes = q.crossJoin(broadcast(cents))
          .withColumn("cdist", l2sq($"qemb", $"cemb"))
          .withColumn("pr", row_number().over(wProbe))
          .filter($"pr" <= IvfNProbe)
          .select($"query_id", $"qemb", $"centroid_id".as("pcell"))
        // predicate FIRST: rows failing it never reach the distance
        val cell = assigned.filter($"label" % 7 === 3)
        val wRank = Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"vec_id")
        broadcast(probes).join(cell, $"pcell" === $"centroid_id")
          .filter($"vec_id" =!= $"query_id")
          .withColumn("cos_sim", round(cosine($"qemb", $"emb"), 9))
          .withColumn("rnk", row_number().over(wRank))
          .filter($"rnk" <= 5)
          .select($"query_id", $"rnk".cast(LongType).as("rnk"),
            $"vec_id", $"label".cast(LongType).as("label"), $"cos_sim")
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(s"""
        $ivfBuildCtes,
        $cellProbesSql,
        flt AS (
          SELECT f.vec_id, f.emb, f.centroid_id,
                 CAST(em.label AS BIGINT) AS label
          FROM fin f JOIN embeddings em ON em.vec_id = f.vec_id
          WHERE em.label % 7 = 3),
        scored AS (
          SELECT p.query_id, f.vec_id, f.label,
            round(
              list_sum(list_transform(generate_series(1, len(p.qemb)),
                i -> p.qemb[i] * f.emb[i])) /
              (sqrt(list_sum(list_transform(p.qemb, x -> x*x))) *
               sqrt(list_sum(list_transform(f.emb, x -> x*x)))), 9) AS cos_sim
          FROM probes p JOIN flt f ON f.centroid_id = p.pcell
          WHERE f.vec_id <> p.query_id)
        SELECT query_id, rnk, vec_id, label, cos_sim FROM (
          SELECT query_id, vec_id, label, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored) r
        WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ── EXACT radius (range) search with triangle-inequality pruning ──
    // Every ANN face above answers "the k nearest"; dedup and
    // recall-sensitive retrieval ask the OTHER question — "EVERYTHING
    // within distance r" — where approximate misses are not acceptable.
    // Exactness and pruning coexist by the triangle inequality: with
    // per-cell radii (max member distance to centroid, one
    // map-side-combined aggregate over the assignment), a cell whose
    // centroid satisfies d(q, c) > r + radius(c) cannot contain ANY
    // answer, so it is skipped with zero recall risk — the classic
    // metric-tree bound riding the existing IVF build. A conservative
    // 1e-6 margin swamps double noise, so pruning can only ever ADMIT
    // extra candidates; membership itself is decided by the round-9
    // d² ≤ r² filter both engines share. The oracle is mechanism-
    // independent brute force over all pairs — the hash proves the
    // pruned scan returns EXACTLY the unpruned answer. At 10⁹ vectors
    // the scan touches only the cells a ball of radius r intersects;
    // SimilaritySpec shows >60% of cells pruned on a clustered fixture
    // while the result stays brute-force-equal.
    "sim_range_search" -> QueryDef(
      fn = (s, d) => {
        rangeSearch(ivfModelFor(s, d), r2 = 1.5)
      },
      oracle = Some {
        val d2 = """round(list_sum(list_transform(generate_series(1, len(q.qe)),
                i -> (q.qe[i] - e.emb[i]) * (q.qe[i] - e.emb[i]))), 9)"""
        s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id, $d2 AS d2
          FROM q, e WHERE e.vec_id <> q.query_id)
        SELECT query_id, vec_id, d2 FROM scored
        WHERE d2 <= 1.5
        ORDER BY query_id, vec_id"""
      }),

    // ── FILTERED exact radius search: predicate inside the cell scan ──
    // The exact-answer sibling of sim_ann_filtered (round-12 verdict
    // #3): "everything within r that passes the predicate", with BOTH
    // properties intact — pruning is metric (triangle inequality),
    // filtering is a scan predicate, and they compose without recall
    // risk because the per-cell radii are computed over the PASSERS:
    // any passer the answer may contain is priced into its cell's
    // filtered radius, while a cell whose passers all huddle near the
    // centroid (or that has none — it drops from the radii join
    // entirely) prunes even when its non-passing members sprawl, so
    // the filtered scan probes a SUBSET of the unfiltered scan's
    // cells (SimilaritySpec gates this on the clustered fixture).
    // The oracle is mechanism-independent FILTERED brute force — the
    // hash proves the pruned, predicate-pushed scan returns exactly
    // the unpruned filtered answer.
    "sim_range_search_filtered" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        rangeSearch(ivfModelFor(s, d), r2 = 1.5,
          candPred = Some($"label" % 7 === 3))
      },
      // HEADLINED round 13 with its graph sibling. Post-artifact
      // calibration (persisted IVF): medians 0.70-0.74 s across two
      // 3-pass runs — band top 1.2 (BASELINE.md)
      headline = true,
      oracle = Some {
        val d2 = """round(list_sum(list_transform(generate_series(1, len(q.qe)),
                i -> (q.qe[i] - e.emb[i]) * (q.qe[i] - e.emb[i]))), 9)"""
        s"""
        WITH e0 AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, emb AS qe FROM e0 WHERE vec_id < 5),
        e AS (SELECT vec_id, emb FROM e0 WHERE label % 7 = 3),
        scored AS (
          SELECT q.query_id, e.vec_id, $d2 AS d2
          FROM q, e WHERE e.vec_id <> q.query_id)
        SELECT query_id, vec_id, d2 FROM scored
        WHERE d2 <= 1.5
        ORDER BY query_id, vec_id"""
      }),

    // ── EXACT similarity JOIN (set×set) with cell-PAIR pruning ──
    // sim_range_search answers 5 queries; the similarity JOIN answers
    // set×set — "every cross pair within r" between two corpora (the
    // cross-source dedup / entity-resolution shape) — where the LSH
    // faces trade recall for speed and the blocked face pays full
    // O(n·m) compute. This keeps the answer EXACT and still prunes:
    // per-side per-cell radii + the two-ball bound d(cᵢ, cⱼ) >
    // r + radᵢ + radⱼ ⇒ no member pair can reach r, so whole CELL
    // PAIRS are skipped with zero recall risk ([[rangeJoin]]); the
    // surviving pair list is k² broadcast metadata and the scan is an
    // equality join on it. Sides = even/odd vector ids over the shared
    // IVF build. Oracle: mechanism-independent brute force over the
    // full cross product — the hash proves the pruned join IS the
    // unpruned answer; SimilaritySpec prunes >60% of cell pairs on the
    // clustered fixture with the result brute-force-equal.
    "sim_range_join" -> QueryDef(
      fn = (s, d) => {
        rangeJoin(ivfModelFor(s, d), r2 = 1.5)
      },
      oracle = Some {
        val d2 = """round(list_sum(list_transform(generate_series(1, len(a.emb)),
                i -> (a.emb[i] - b.emb[i]) * (a.emb[i] - b.emb[i]))), 9)"""
        s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        scored AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id, $d2 AS d2
          FROM a, b)
        SELECT a_id, b_id, d2 FROM scored
        WHERE d2 <= 1.5
        ORDER BY a_id, b_id"""
      }),

    // ── product quantization: reconstruction fidelity ──
    // The compression companion to sim_quantize_int8: 64 doubles → 8
    // codebook codes (64x smaller). Per-vector reconstruction error is
    // the exact decimal sum of per-subspace distances to the assigned
    // codewords — the whole build AND the error arithmetic unroll into
    // the oracle ([[pqBuildCtes]]), so the k-means mechanism itself is
    // hash-checked like IVF's.
    "sim_pq_reconstruction" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (codes, books) = pqModel(s, embCheckpointed(s, d))
        codes.join(broadcast(books), Seq("sub", "code"))
          .withColumn("sdist",
            round(l2sq($"semb", $"cemb"), 9).cast(DecimalType(27, 9)))
          .groupBy($"vec_id")
          .agg(round(sqrt(sum($"sdist").cast(DoubleType)), 6).as("recon_err"))
          .orderBy($"vec_id")
      },
      oracle = Some(pqReconOracleSql)),

    // ── PQ codebook build: the persisted index artifact ──
    // The nightly-build face of the PQ pair: runs the per-subspace
    // k-means ONCE, persists (codebook, codes) as parquet keyed by the
    // build semantics, and exposes the codebook long-form for the
    // oracle (DuckDB re-runs the whole unrolled k-means and must land
    // on exactly the persisted values — the artifact itself is
    // hash-checked every round). `sim_ann_pq_search` then reads the
    // artifact instead of rebuilding, the deployment economics the
    // round-5 verdict asked for.
    "sim_pq_codebook" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (_, books) = pqPersistedModel(s, d)
        books
          .select($"sub".cast(LongType).as("sub"), $"code".cast(LongType).as("code"),
            posexplode($"cemb").as(Seq("p", "val")))
          .select($"sub", $"code", ($"p" + 1).cast(LongType).as("pos"), $"val")
          .orderBy($"sub", $"code", $"pos")
      },
      oracle = Some(s"""
        $pqBuildCtes
        SELECT sub, code::BIGINT AS code, t.pos, c.cemb[t.pos] AS val
        FROM pc2 c, range(1, ${PqSubDim + 1}) t(pos)
        ORDER BY sub, code, pos"""),
      headline = false),

    // ── PQ ADC top-k over the PERSISTED artifact: search-only ──
    // The billion-scale serving shape end to end: codes + codebook come
    // from the parquet artifact (built at most once per sf dir by
    // [[pqPersistedModel]]), the query precomputes one tiny PqSub×PqK
    // lookup table per query (broadcast, 5 rows wide), and every
    // candidate's approximate distance is a single codegen'd
    // [[graft.functions.PqAdcSum]] fold over its code array — MAP-ONLY
    // over the codes scan (no (sub, code) join, no (query, vec)
    // aggregation exchange; at 10^9 vectors that exchange carries Q×N
    // rows and IS the search cost — here only the ≤k-per-query top-k
    // aggregation shuffles, plan-gated in PlanShapeSpec). The raw
    // embeddings are read ONLY for the 5 query vectors (vec_id
    // pushdown), never for candidates. The join-based long-layout
    // alternative ([[pqAdcDistances]]) is kept for vec_id-bucketed
    // deployments; A/B history in [[pqArtifactDir]]'s scaladoc.
    // Shares the self-contained unrolled oracle with `sim_ann_pq_adc`:
    // the build is deterministic, so DuckDB's from-scratch rebuild
    // checks the persisted artifact's values too — and the scaled-long
    // fold must land on the oracle's decimal sums bit for bit.
    "sim_ann_pq_search" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (codes, books) = pqPersistedModel(s, d)
        topKByAdist(codes.crossJoin(broadcast(pqQueryLutWide(s, d, books)))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            graft.functions.VectorExprs.pqAdcSum($"codes", $"lut").as("adist")),
          5).orderBy($"query_id", $"rnk")
      },
      oracle = Some(pqAdcOracleSql),
      headline = false),

    // ── IVF+PQ: the composed serving index (FAISS IVFADC shape) ──
    // The structure a billion-scale ANN deployment actually runs:
    // cells bound WHAT is scanned (inverted lists, here physical
    // partitions of the persisted artifact — the probe filter prunes
    // the non-probed cells' files at the scan, plan-gated in
    // SimilaritySpec), PQ codes bound WHAT each scan costs (ADC: one
    // codegen'd [[graft.functions.PqAdcSum]] fold per candidate, raw
    // embeddings read only for the 5 query vectors). The probe plan is
    // built coordinator-side from the 8-row centroid table (the
    // [[pqQueryLutWide]] O(queries × cells) precedent — a real serving
    // coordinator ranks probes exactly there), candidates pair with
    // their queries through a 15-row broadcast, and ranking rides the
    // bounded-buffer aggregator: ≤k rows per query cross the only
    // shuffle. The oracle re-derives BOTH builds, the probe ranking,
    // and the restricted ADC search in one statement.
    "sim_ann_ivfpq" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (cells, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        // the coordinator's probe list: each query's IvfNProbe nearest
        // cells; static partition pruning scans only their files
        val (probedCells, probePairs) =
          probeSet(s, probeRanking(s, d, cents).filter(_._3 <= IvfNProbe))
        adcTopK(s, cells, pqQueryLutWide(s, d, books), probedCells,
            probePairs, None, 5)
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(ivfPqOracleSql),
      headline = false),

    // ── filtered IVF+PQ: predicate inside the IVFADC candidate scan ──
    // Completes the filtered-search family on the PQ path (round-13
    // verdict #7; siblings: sim_ann_filtered on raw IVF,
    // sim_ann_graph_filtered on the NSW walk, sim_range_search_filtered
    // on exact radius): "approximate nearest WHERE label % 7 = 3"
    // served from the FROZEN persisted index. The artifact stores the
    // attribute column WITH the codes (fmt3 — the metadata-filtered
    // ANN deployment shape), so the predicate is a codegen'd filter on
    // the pruned cell scan: rows failing it never reach the ADC fold.
    // The probe budget WIDENS with selectivity ([[IvfNProbeFiltered]]
    // — the filtered-search dial): more cells scanned, but each
    // contributes only its passers, so total ADC work still lands
    // under the unfiltered scan's while recall holds. At ~14%
    // selectivity post-filtering the unfiltered top-5 keeps well
    // under k rows per query — the under-return the in-scan predicate
    // exists to fix; SimilaritySpec holds this path to the recall
    // floor vs the FILTERED exact brute force and proves the
    // post-filter miss. The oracle re-derives both builds and the
    // restricted ADC search with the label filter in the same place.
    "sim_ann_ivfpq_filtered" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (cells, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        // a selective predicate WIDENS the probe budget (2× cells —
        // see [[IvfNProbeFiltered]]): each probed cell contributes
        // only its passers, so the wider scan restores the candidate
        // count at LESS total ADC work than the unfiltered path
        val (probedCells, probePairs) = probeSet(s,
          probeRanking(s, d, cents).filter(_._3 <= IvfNProbeFiltered))
        // predicate FIRST, on the STORED attribute: failing rows
        // never pair with a query or reach the ADC fold
        val ranked = adcTopK(s, cells, pqQueryLutWide(s, d, books),
          probedCells, probePairs, Some($"label" % 7 === 3), 5)
        // label re-attaches AFTER the top-k: the ≤k-rows-per-query
        // ranked side broadcasts against the artifact's pruned
        // (vec_id, label) scan — never a per-candidate payload carry
        // through the aggregation. Every winner came from a probed
        // cell by construction, so the re-attach scan carries the
        // SAME partition filter as the candidate scan: only probed
        // cells' files open (round-14 verdict — the unrestricted scan
        // was column-pruned but read every inverted-list partition to
        // label ≤k×Q rows).
        broadcast(ranked)
          .join(cells.filter($"centroid_id".isin(probedCells: _*))
            .select($"vec_id", $"label"), Seq("vec_id"))
          .select($"query_id", $"rnk", $"vec_id", $"label", $"adist")
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(ivfPqFilteredOracleSql),
      headline = true),

    // ── selectivity-aware probe planning: DERIVE the filtered probe
    //    budget from the per-cell passer census ──
    // `sim_ann_ivfpq_filtered` widens its probe budget by a fixed 2×;
    // this face is the COORDINATOR ARITHMETIC that justifies (or
    // overrides) such a constant — the predicate-aware search
    // planning of metadata-filtered ANN systems (cf. ACORN, Patel et
    // al. SIGMOD 2024, and the filtered-search tracks of the
    // big-ann-benchmarks suite), re-expressed over the inverted-file
    // census: from the artifact's 8-row per-cell
    // census of predicate passers (a pruned scan of the STORED
    // attribute column — the labels never join the corpus), probe
    // cells in query-distance order until the scan covers at least
    // the passer FRACTION the unfiltered IvfNProbe-cell scan covers
    // of the whole corpus, and at least k passers. Exact-integer
    // cross-multiplication (cum_pass·t_rows ≥ uf_rows·t_pass), so
    // both engines pick the identical budget. Under a predicate that
    // concentrates in far cells the chosen budget grows per query;
    // under a cell-uniform predicate it stays near IvfNProbe — the
    // per-query outputs make the decision auditable. 100 TB shape:
    // everything after the census is windowing over queries × cells
    // rows (the coordinator's probe table, tiny by construction);
    // the census itself is one map-side-combined aggregate of two
    // pruned columns.
    "sim_filtered_probe_plan" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val wPick = Window.partitionBy($"query_id").orderBy($"pr")
        probePlanCum(s, d, col("label") % 7 === 3, checkpoint = false)
          .filter($"cum_pass" * $"t_rows" >= $"uf_rows" * $"t_pass" &&
            $"cum_pass" >= 5L)
          .withColumn("rk1", row_number().over(wPick))
          .filter($"rk1" === 1)
          .select($"query_id",
            $"pr".cast(LongType).as("probes_chosen"),
            $"cum_rows".as("rows_scanned"),
            $"cum_pass".as("pass_covered"))
          .orderBy($"query_id")
      },
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        census AS (
          SELECT f.centroid_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CASE WHEN em.label % 7 = 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pass
          FROM fin f JOIN embeddings em ON em.vec_id = f.vec_id
          GROUP BY f.centroid_id),
        q AS (
          SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        ranked AS (
          SELECT q.query_id, c.centroid_id,
            $cellRankSql
          FROM q, c3 c),
        j AS (
          SELECT r.query_id, r.pr, s.n_rows, s.n_pass
          FROM ranked r JOIN census s USING (centroid_id)),
        cum AS (
          SELECT query_id, pr,
            SUM(n_rows) OVER (PARTITION BY query_id ORDER BY pr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows,
            SUM(n_pass) OVER (PARTITION BY query_id ORDER BY pr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pass,
            SUM(n_rows) OVER (PARTITION BY query_id) AS t_rows,
            SUM(n_pass) OVER (PARTITION BY query_id) AS t_pass
          FROM j),
        cum2 AS (
          SELECT *, MAX(CASE WHEN pr = $IvfNProbe THEN cum_rows END)
            OVER (PARTITION BY query_id) AS uf_rows
          FROM cum),
        adequate AS (
          SELECT query_id, pr, cum_rows, cum_pass,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pr) AS rk1
          FROM cum2
          WHERE cum_pass * t_rows >= uf_rows * t_pass
            AND cum_pass >= 5)
        SELECT query_id, CAST(pr AS BIGINT) AS probes_chosen,
               CAST(cum_rows AS BIGINT) AS rows_scanned,
               CAST(cum_pass AS BIGINT) AS pass_covered
        FROM adequate
        WHERE rk1 = 1
        ORDER BY query_id""")),

    // ── planner-driven filtered IVFADC: the search CONSUMES the
    //    planner's per-query budget (round-14 verdict #1) ──
    // `sim_ann_ivfpq_filtered` probes the static 2× constant;
    // `sim_filtered_probe_plan` derives what the budget SHOULD be from
    // the per-cell passer census — this face closes the loop: the same
    // filtered ADC scan, with each query's probe budget =
    // max(planner's minimal adequate prefix, the static floor), all
    // cells when the predicate can never become adequate. Under the
    // cell-uniformish % 7 predicate the budgets sit at/near the floor
    // and the scan matches the static face's; under a predicate
    // concentrated in far cells the budget grows exactly where the
    // constant under-returns (SimilaritySpec proves the static scan
    // returns ZERO candidates on a crafted far-cell fixture while
    // this path still fills k — the failure mode the planner's
    // scaladoc names, cf. ACORN / the big-ann-benchmarks filtered
    // track). `probes_used` rides the output so the budget decision
    // itself is oracle-hash-checked, not just the ranking.
    "sim_ann_ivfpq_adaptive" -> QueryDef(
      fn = (s, d) => {
        val pred = col("label") % 7 === 3
        // artifacts resolved and the probe ranking collected ONCE —
        // the planner derives its budgets from the same ranking the
        // search then probes
        val (cells, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        val ranking = probeRanking(s, d, cents)
        ivfpqSearchOnRanking(s, cells, pqQueryLutWide(s, d, books),
          ranking, pred, plannerBudgets(s, cells, ranking, pred))
      },
      oracle = Some(ivfPqAdaptiveOracleSql),
      headline = false),

    // ── the post-filter executor: oversampled UNFILTERED top-k',
    //    predicate applied after ranking ──
    // The other branch of `sim_filtered_strategy`'s decision (the
    // in-scan branch is `sim_ann_ivfpq_filtered`/`_adaptive`): scan
    // the UNFILTERED [[IvfNProbe]]-cell budget, rank an OVERSAMPLED
    // top-k' per query — k' = ceil(k·t_rows/t_pass) from the passer
    // census, the expected-≥k-passers cross-multiplication, capped at
    // 200 so the bounded top-k buffer stays bounded — then apply the
    // predicate to the ≤k' winners and keep the top k passers. Right
    // when the predicate is non-selective (k' stays near k and the
    // 3-cell scan beats the widened 6-cell one); at this fixture's
    // ~12% selectivity k' = 43 and the strategy face says 'pre' — the
    // two executors plus the chooser are the complete serving story.
    // The label re-attach and the final re-rank both operate on ≤k'
    // rows per query (broadcast side), never on candidates; k' rides
    // the output so the oversampling arithmetic is hash-checked.
    "sim_ann_ivfpq_postfilter" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (cells, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        // global selectivity census: two pruned columns, 8 rows
        val cRow = cells.agg(count(lit(1)).as("t_rows"),
          sum(when($"label" % 7 === 3, 1L).otherwise(0L)).as("t_pass"))
          .collect()(0)
        val (tRows, tPass) = (cRow.getLong(0), cRow.getLong(1))
        val kPrime =
          if (tPass <= 0L) 5L
          else math.min(200L, (5L * tRows + tPass - 1L) / tPass)
        val (probedCells, probePairs) =
          probeSet(s, probeRanking(s, d, cents).filter(_._3 <= IvfNProbe))
        val ranked = adcTopK(s, cells, pqQueryLutWide(s, d, books),
            probedCells, probePairs, None, kPrime.toInt)
          .select($"query_id", $"vec_id", $"adist")
        val wRe = Window.partitionBy($"query_id")
          .orderBy($"adist".asc, $"vec_id")
        broadcast(ranked)
          .join(cells.filter($"centroid_id".isin(probedCells: _*))
            .select($"vec_id", $"label"), Seq("vec_id"))
          .filter($"label" % 7 === 3)
          .withColumn("rnk", row_number().over(wRe).cast(LongType))
          .filter($"rnk" <= 5)
          .select($"query_id", $"rnk", $"vec_id", $"label", $"adist",
            lit(kPrime).as("oversample_k"))
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        sel AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t_rows,
                 CAST(SUM(CASE WHEN em.label % 7 = 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS t_pass
          FROM fin f JOIN embeddings em ON em.vec_id = f.vec_id),
        kp AS (
          SELECT CASE WHEN t_pass <= 0 THEN 5
            ELSE LEAST(200, (5 * t_rows + t_pass - 1) // t_pass)
            END AS kprime
          FROM sel),
        ${ivfProbesSql(IvfNProbe)},
        $pqLutSql,
        ${labeledAdcSql(labelFilter = false)},
        over AS (
          SELECT a.query_id, a.vec_id, a.label, a.adist
          FROM (
            SELECT query_id, vec_id, label, adist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adist ASC, vec_id) AS rnk0
            FROM adc) a CROSS JOIN kp
          WHERE a.rnk0 <= kp.kprime)
        SELECT o.query_id, o.rnk, o.vec_id, o.label, o.adist,
               CAST(kp.kprime AS BIGINT) AS oversample_k
        FROM (
          SELECT query_id, vec_id, label, adist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adist ASC, vec_id) AS rnk
          FROM over
          WHERE label % 7 = 3) o CROSS JOIN kp
        WHERE o.rnk <= 5
        ORDER BY o.query_id, o.rnk""")),

    // ── filtered-search STRATEGY choice: pre-filter the scan or
    //    post-filter the unfiltered top-k? ──
    // The remaining planning decision of a metadata-filtered ANN tier
    // (ACORN, Patel et al. SIGMOD 2024; the big-ann-benchmarks
    // filtered track): for a NON-selective predicate, post-filtering
    // an oversampled UNFILTERED top-k' is cheaper than widening the
    // probe budget — the unfiltered scan touches fewer cells and its
    // top-k' already holds ≥ k expected passers; for a selective one
    // the in-scan predicate path (`sim_ann_ivfpq_adaptive`) wins
    // because post-filtering would need k' ≈ k/σ oversampling across
    // ever more cells. This face is that decision as auditable
    // EXACT-INTEGER coordinator arithmetic per query, from rows the
    // coordinator already holds (the 8-row passer census + its probe
    // ranking): the pre-filter path's budget (the planner arithmetic
    // with its floor) prices as cum_rows(nb) rows READ and
    // cum_pass(nb) ADC folds; the post-filter path prices as
    // cum_rows(IvfNProbe) rows read AND folded with oversample
    // k' = ceil(k·t_rows/t_pass) (expected ≥ k passers in the top-k',
    // by cross-multiplication — t_pass = 0 falls back to pre). The
    // verdict picks post-filter iff its ADC fold count is no larger:
    // folds dominate the serving cost, and both counts come from the
    // same census so the comparison is deterministic in both engines.
    // Every input to the decision rides the output row, so the hash
    // checks the whole cost model, not just the final label.
    "sim_filtered_strategy" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val cum = probePlanCum(s, d, col("label") % 7 === 3,
          checkpoint = true)
        // the pre-filter budget: the planner arithmetic with its
        // floor and all-cells fallback (sim_ann_ivfpq_adaptive's nb)
        val wPick = Window.partitionBy($"query_id").orderBy($"pr")
        val nb = cum
          .filter($"cum_pass" * $"t_rows" >= $"uf_rows" * $"t_pass" &&
            $"cum_pass" >= 5L)
          .withColumn("rk1", row_number().over(wPick))
          .filter($"rk1" === 1)
          .select($"query_id", $"pr".as("min_pr"))
        val budget = cum.select($"query_id", $"n_cells").distinct()
          .join(nb, Seq("query_id"), "left")
          .select($"query_id",
            least($"n_cells",
              greatest(coalesce($"min_pr", $"n_cells"),
                lit(IvfNProbeFiltered))).as("nb"))
        cum.join(broadcast(budget), Seq("query_id"))
          .groupBy($"query_id")
          .agg(
            max($"t_rows").as("t_rows"),
            max($"t_pass").as("t_pass"),
            max(when($"pr" === $"nb", $"cum_rows")).as("rows_pre"),
            max(when($"pr" === $"nb", $"cum_pass")).as("folds_pre"),
            max(when($"pr" === IvfNProbe, $"cum_rows")).as("rows_post"),
            max($"nb").as("probes_pre"))
          .select($"query_id",
            expr("t_pass * 1000000 div t_rows").as("sel_ppm"),
            $"probes_pre".cast(LongType).as("probes_pre"),
            $"rows_pre", $"folds_pre", $"rows_post",
            when($"t_pass" > 0L,
              expr("(5 * t_rows + t_pass - 1) div t_pass"))
              .otherwise(lit(null)).cast(LongType).as("oversample_k"),
            when($"t_pass" > 0L && $"rows_post" <= $"folds_pre",
              lit("post")).otherwise(lit("pre")).as("strategy"))
          .orderBy($"query_id")
      },
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        $probeBudgetCtes,
        priced AS (
          SELECT c.query_id,
            MAX(c.t_rows) AS t_rows, MAX(c.t_pass) AS t_pass,
            MAX(CASE WHEN c.pr = b.nb THEN c.cum_rows END) AS rows_pre,
            MAX(CASE WHEN c.pr = b.nb THEN c.cum_pass END) AS folds_pre,
            MAX(CASE WHEN c.pr = $IvfNProbe THEN c.cum_rows END)
              AS rows_post,
            MAX(b.nb) AS probes_pre
          FROM cum2 c JOIN budget b USING (query_id)
          GROUP BY c.query_id)
        SELECT query_id,
          CAST(t_pass * 1000000 // t_rows AS BIGINT) AS sel_ppm,
          CAST(probes_pre AS BIGINT) AS probes_pre,
          CAST(rows_pre AS BIGINT) AS rows_pre,
          CAST(folds_pre AS BIGINT) AS folds_pre,
          CAST(rows_post AS BIGINT) AS rows_post,
          CASE WHEN t_pass > 0
            THEN CAST((5 * t_rows + t_pass - 1) // t_pass AS BIGINT)
            ELSE NULL END AS oversample_k,
          CASE WHEN t_pass > 0 AND rows_post <= folds_pre
            THEN 'post' ELSE 'pre' END AS strategy
        FROM priced
        ORDER BY query_id""")),

    // ── IVF+PQ index maintenance: encode an arriving batch against the
    //    FROZEN serving index — no rebuild, no corpus scan ──
    // The operation a 10^9-vector serving tier runs continuously:
    // newly-arrived vectors are cell-assigned against the persisted
    // 8-row centroid table and PQ-encoded against the persisted
    // codebooks (both broadcast), producing exactly the inverted-file
    // rows `Bucketing.appendBucketAligned` would fold into the
    // cell-partitioned artifact. Per-batch cost is O(batch ×
    // (cells + codebook)) map-only work — the index never retrains
    // between scheduled rebuilds, which is how FAISS-style deployments
    // actually run. The arriving batch is deterministic arithmetic
    // (midpoints of consecutive base vectors, ids offset by 1e6), so
    // the oracle rebuilds BOTH k-means chains from scratch plus the
    // batch itself and must land on the same cells and codes — the
    // frozen-artifact read is thereby re-proven equal to a fresh build
    // every round.
    "sim_ivfpq_append" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (_, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        // the deterministic arriving batch (see [[midpointBatch]]) —
        // checkpointed there; 2 consumers: cell assign + subvector encode
        encodeAgainstFrozen(s, cents, books, midpointBatch(s, d))
          .orderBy($"vec_id", $"sub")
      },
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        $nvBatchCte,
        $nvEncodeCtes
        SELECT a.vec_id, a.centroid_id, e2.sub, e2.code
        FROM cellq a JOIN enc e2 USING (vec_id)
        ORDER BY vec_id, sub""")),

    // ── the post-append SERVING VIEW: filtered search over base ∪
    //    appended extension ──
    // What a serving tier actually queries between rebuilds: the
    // frozen base artifact PLUS everything the maintenance path
    // ([[encodeAgainstFrozen]] — the batch face above, the continuous
    // [[graft.streaming.StreamingIndexAppend]]) has folded in since.
    // The same static filtered ADC search (`sim_ann_ivfpq_filtered`'s
    // budget; probes_used rides the output), run over the UNION of
    // the base inverted lists and the appended rows — the probed-cell
    // restriction pushes through the union, so the base side keeps
    // its partition pruning and the extension contributes only its
    // probed cells' rows. Appended ids take the maintenance label
    // convention (vec_id % 7, the chaos gate's), so some appended
    // near-duplicates PASS the predicate and must appear in the
    // answers — SimilaritySpec gates exactly that non-vacuity, plus
    // base-face equality when the extension is excluded. The oracle
    // rebuilds both chains AND the batch encode from scratch and
    // searches the same union, so the whole read-after-append path is
    // re-proven every round.
    "sim_ann_ivfpq_extended" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val (cells, cents) = ivfpqPersistedModel(s, d)
        val (_, books) = pqPersistedModel(s, d)
        val ext = widenToArtifactRows(
            encodeAgainstFrozen(s, cents, books, midpointBatch(s, d)))
          .select($"vec_id", $"codes", ($"vec_id" % 7L).as("label"),
            $"centroid_id")
        val extended = cells
          .select($"vec_id", $"codes", $"label", $"centroid_id")
          .unionByName(ext)
        // empty budgets = the static IvfNProbeFiltered floor for every
        // query (the totalization in ivfpqSearchOnRanking) — this face
        // prices the read path, the adaptive face prices the planner
        ivfpqSearchOnRanking(s, extended, pqQueryLutWide(s, d, books),
          probeRanking(s, d, cents), col("label") % 7 === 3, Map.empty)
      },
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        $pqBuildChain,
        $nvBatchCte,
        $nvEncodeCtes,
        allfin AS (
          SELECT vec_id, centroid_id FROM fin
          UNION ALL SELECT vec_id, centroid_id FROM cellq),
        allcodes AS (
          SELECT vec_id, sub, code FROM codes
          UNION ALL SELECT vec_id, sub, code FROM enc),
        alllab AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
          UNION ALL SELECT vec_id, CAST(vec_id % 7 AS BIGINT) FROM nv),
        ${ivfProbesSql(IvfNProbeFiltered)},
        $pqLutSql,
        adc AS (
          SELECT p.query_id, f.vec_id, al.label,
                 CAST(SUM(l.pdist) AS DOUBLE) AS adist
          FROM probes p
          JOIN allfin f ON f.centroid_id = p.pcell
          JOIN alllab al ON al.vec_id = f.vec_id
          JOIN allcodes k ON k.vec_id = f.vec_id
          JOIN lut l ON l.query_id = p.query_id
                    AND l.sub = k.sub AND l.code = k.code
          WHERE f.vec_id <> p.query_id
            AND al.label % 7 = 3
          GROUP BY p.query_id, f.vec_id, al.label)
        SELECT query_id, rnk, vec_id, label, adist,
               CAST($IvfNProbeFiltered AS BIGINT) AS probes_used
        FROM (
          SELECT query_id, vec_id, label, adist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adist ASC, vec_id) AS rnk
          FROM adc) r
        WHERE rnk <= 5
        ORDER BY query_id, rnk""")),

    // ── retrain signal: when does the frozen index need a rebuild? ──
    // `sim_ivfpq_append` folds arriving batches into the frozen index;
    // `sim_centroid_drift` watches the raw embedding population. This
    // is the missing decision between them: per frozen CELL, does the
    // arriving batch still look like the index — population share and
    // residual energy — and if not, flip `rebuild_now`. Thresholds are
    // exact integer cross-multiplications (batch mean residual > 2×
    // base mean; share drift > 1/2), so the verdict is deterministic
    // in both engines; see [[retrainSignal]] for the full contract and
    // the 100 TB plan shape (artifact-assignments join + 8-row
    // broadcast arithmetic — no corpus argmin). SimilaritySpec plants
    // a distribution shift that must trip the signal and verifies the
    // unshifted midpoint batch does not.
    "sim_ivfpq_retrain_signal" -> QueryDef(
      fn = (s, d) => retrainSignal(s, d, midpointBatch(s, d)),
      oracle = Some(s"""
        $embCteSql,
        $ivfBuildChain,
        $nvBatchCte,
        basea AS (
          SELECT f.centroid_id, CAST(COUNT(*) AS BIGINT) AS n_base,
                 CAST(SUM(CAST(floor(list_sum(list_transform(
                     generate_series(1, $Dim),
                     i -> (f.emb[i] - c.cemb[i]) * (f.emb[i] - c.cemb[i])))
                   * 1000000) AS BIGINT)) AS BIGINT) AS base_d2u
          FROM fin f JOIN c3 c USING (centroid_id)
          GROUP BY f.centroid_id),
        newd AS (
          SELECT vec_id, centroid_id, d2u FROM (
            SELECT nv.vec_id, c.centroid_id,
              CAST(floor(list_sum(list_transform(generate_series(1, $Dim),
                  i -> (nv.emb[i] - c.cemb[i]) * (nv.emb[i] - c.cemb[i])))
                * 1000000) AS BIGINT) AS d2u,
              ROW_NUMBER() OVER (PARTITION BY nv.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, $Dim),
                  i -> (nv.emb[i] - c.cemb[i]) * (nv.emb[i] - c.cemb[i])))
                ASC, c.centroid_id) AS rn
            FROM nv, c3 c) x
          WHERE rn = 1),
        newa AS (
          SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_new,
                 CAST(SUM(d2u) AS BIGINT) AS new_d2u
          FROM newd GROUP BY centroid_id),
        cellsj AS (
          SELECT b.centroid_id, b.n_base,
                 CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
                 b.base_d2u,
                 CAST(COALESCE(n.new_d2u, 0) AS BIGINT) AS new_d2u
          FROM basea b LEFT JOIN newa n USING (centroid_id)),
        tot AS (
          SELECT CAST(SUM(n_base) AS BIGINT) AS n0,
                 CAST(SUM(n_new) AS BIGINT) AS n1
          FROM cellsj),
        flags AS (
          SELECT c.centroid_id, c.n_base, c.n_new, c.base_d2u, c.new_d2u,
                 CAST(abs(c.n_new * t.n0 - c.n_base * t.n1) AS BIGINT)
                   AS pop_drift_num,
                 (c.n_new > 0 AND
                  c.new_d2u * c.n_base > 2 * c.base_d2u * c.n_new)
                   AS energy_flag,
                 (abs(c.n_new * t.n0 - c.n_base * t.n1) * 2 > t.n0 * t.n1)
                   AS pop_flag
          FROM cellsj c, tot t)
        SELECT f.centroid_id, f.n_base, f.n_new, f.base_d2u, f.new_d2u,
               f.pop_drift_num, f.energy_flag, f.pop_flag, r.rebuild_now
        FROM flags f,
             (SELECT bool_or(energy_flag OR pop_flag) AS rebuild_now
              FROM flags) r
        ORDER BY f.centroid_id""")),

    // ── IVFADC: residual-encoded IVF+PQ (Jégou et al. 2011) ──
    // The fidelity upgrade over `sim_ann_ivfpq`'s raw-vector codes: PQ
    // trains on and encodes x − centroid(x), so the code budget
    // describes each vector's position WITHIN its cell instead of
    // re-describing the cell — what FAISS IndexIVFPQ ships, and what
    // holds recall at tight budgets (PqSub×log2(PqK) = 16 bits here).
    // Search follows: each (query, probed cell) gets its own LUT from
    // the residual query q − centroid(cell) against the residual
    // codebooks (Q×nprobe×PqSub×PqK = 480 rows, coordinator-sized).
    // Candidates still come only from probed cells via a 15-row
    // broadcast probe list; ≤k rows per query cross the only shuffle.
    // The oracle re-derives the IVF chain, the residual table, the
    // residual PQ chain, and the per-cell-LUT search in one statement.
    // `sim_ivfpq_recall` asserts this encoding's recall@5 beats the
    // raw-code index at the identical probe/code budget.
    "sim_ann_ivfpq_residual" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val (assigned, cents) = ivfModelFor(s, d)
        val (codes, books) = pqModel(s, ivfResiduals(assigned, cents))
        adcProbedTopK(s, e, assigned, cents, codes, books,
          residualLut = true, 5)
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(ivfPqResidualOracleSql)),

    // ── IVFADC recall gate: residual codes vs raw codes, same budget ──
    // The index-quality contract for the pair above: both indexes use
    // the SAME cells, SAME probe list, SAME PqSub/PqK budget — they
    // differ ONLY in what the codes encode — and the residual index
    // must find at least as many of the exact top-5 neighbors. 50
    // query vectors (not the 5 the search queries use): at a 16-bit
    // code budget a 25-sample recall estimate is noise-dominated;
    // 250 samples let the systematic residual gain clear it. Measured
    // hits/250: sf0.01 raw 18, residual 26; sf0.001 raw 34, residual
    // 34 (near-uniform synthetic embeddings are sign-LSH's and PQ's
    // hard case — cell structure is weak at 1k vectors, so the gain
    // shows at 10k where cells mean something). All comparisons are
    // exact integer hit counts (hits×20 ≥ n_true ⟺ recall ≥ 0.05),
    // so — like `sim_ann_recall` — the oracle-checkable contract is
    // the assertion, with no float at the boundary.
    "sim_ivfpq_recall" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val NQ = 50
        val e = embCheckpointed(s, d)
        val exact = exactTopK(s, e, 5, NQ).select($"query_id", $"vec_id")
          .pin() // joined against both indexes below
        val (assigned, cents) = ivfModelFor(s, d)
        val (rawCodes, rawBooks) = pqModel(s, e)
        val (resCodes, resBooks) = pqModel(s, ivfResiduals(assigned, cents))
        def hitsOf(top: DataFrame): DataFrame = exact
          .join(top.select($"query_id", $"vec_id").withColumn("hit", lit(1L)),
            Seq("query_id", "vec_id"), "left")
          .agg(countDistinct($"query_id").as("n_queries"),
            sum(coalesce($"hit", lit(0L))).as("n_hits"),
            count(lit(1)).as("n_true"))
        val both = hitsOf(adcProbedTopK(s, e, assigned, cents,
            rawCodes, rawBooks, residualLut = false, 5, NQ))
          .select($"n_queries", $"n_true", $"n_hits".as("raw_hits"))
          .crossJoin(broadcast(
            hitsOf(adcProbedTopK(s, e, assigned, cents,
              resCodes, resBooks, residualLut = true, 5, NQ))
              .select($"n_hits".as("res_hits"))))
        // floors at half the weakest measurement (deterministic inputs,
        // but testdata regeneration may perturb them); the REAL
        // contract is ge_raw — residual wins or ties at the same budget
        both.select(lit("ivfpq_raw").as("method"), $"n_queries",
            ($"raw_hits" * 25L >= $"n_true").as("meets_floor"),
            lit(true).as("ge_raw"))
          .unionAll(both.select(lit("ivfpq_residual"), $"n_queries",
            ($"res_hits" * 20L >= $"n_true").as("meets_floor"),
            ($"res_hits" >= $"raw_hits").as("ge_raw")))
          .orderBy($"method")
      },
      oracle = Some("""
        SELECT 'ivfpq_raw' AS method, 50::BIGINT AS n_queries,
               TRUE AS meets_floor, TRUE AS ge_raw
        UNION ALL
        SELECT 'ivfpq_residual', 50::BIGINT, TRUE, TRUE
        ORDER BY method""")),

    // ── PQ asymmetric-distance (ADC) top-k: self-contained build+search ──
    // The original one-query form: builds the codebooks in-plan and
    // searches, with the oracle rebuilding codebooks, LUT, exact
    // decimal ADC sums, and ranking end to end. Kept (non-headline
    // since round 6) as the equality face of the artifact pair — it
    // shares its oracle with `sim_ann_pq_search`, so the driver
    // re-proves fresh-build == persisted-artifact every round; the
    // headline bench now prices build (`sim_pq_codebook`) and search
    // (`sim_ann_pq_search`) separately, the deployment economics.
    "sim_ann_pq_adc" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val (codes, books) = pqModel(s, e)
        val q = pqSubvectors(s, e.filter($"vec_id" < 5))
          .select($"vec_id".as("query_id"), $"sub", $"semb".as("qsemb"))
        val lut = q.join(broadcast(books), Seq("sub"))
          .select($"query_id", $"sub", $"code",
            round(l2sq($"qsemb", $"cemb"), 9).cast(DecimalType(27, 9)).as("pdist"))
        topKByAdist(codes.select($"vec_id", $"sub", $"code")
          .join(broadcast(lut), Seq("sub", "code"))
          .filter($"vec_id" =!= $"query_id")
          .groupBy($"query_id", $"vec_id")
          .agg(sum($"pdist").cast(DoubleType).as("adist")), 5)
          .orderBy($"query_id", $"rnk")
      },
      oracle = Some(pqAdcOracleSql)),

    // ── label centroids: the aggregation face of embedding work ──
    // Exact cross-engine arithmetic (the `Exact` decimal-sum pattern,
    // graft/functions/Exact.scala): double SUMs are order-dependent, so
    // every aggregation step quantizes first — component values rounded
    // to 7 digits then summed as DECIMAL(20,7) (associative, exact), the
    // mean taken with one double division, its square re-quantized to
    // DECIMAL(38,12) before the second sum. Both engines then produce
    // bit-identical doubles and the query is fully oracle-checkable.
    "sim_label_centroids" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embDouble(s, d)
          .select($"label", posexplode($"emb").as(Seq("pos", "v")))
        e.groupBy($"label", $"pos")
          .agg(
            sum(round($"v", 7).cast(DecimalType(20, 7))).as("sv"),
            count(lit(1)).as("n"))
          .withColumn("c", $"sv".cast(DoubleType) / $"n")
          .withColumn("c2", round($"c" * $"c", 12).cast(DecimalType(38, 12)))
          .groupBy($"label")
          .agg(
            max($"n").as("n_vectors"),
            round(sqrt(sum($"c2").cast(DoubleType)), 6).as("centroid_norm"))
          .orderBy($"label")
      },
      oracle = Some("""
        WITH e AS (
          SELECT label, pos, embedding[pos]::DOUBLE AS v
          FROM embeddings, range(1, 65) t(pos)),
        q AS (
          SELECT label, pos,
                 SUM(CAST(round(v, 7) AS DECIMAL(20,7))) AS sv,
                 COUNT(*) AS n
          FROM e GROUP BY label, pos),
        c AS (SELECT label, n, CAST(sv AS DOUBLE) / n AS c FROM q),
        c2 AS (SELECT label, n, CAST(round(c * c, 12) AS DECIMAL(38,12)) AS c2 FROM c)
        SELECT label, MAX(n) AS n_vectors,
               round(sqrt(CAST(SUM(c2) AS DOUBLE)), 6) AS centroid_norm
        FROM c2 GROUP BY label
        ORDER BY label""")),

    // ── kNN label prediction: similarity search put to use ──
    // Majority label of the 5 nearest neighbors (cosine) for 100 query
    // vectors — the eval face of embedding search. Query side broadcast,
    // candidate side streamed. BOTH rankings ride the bounded-buffer
    // TopKAggregator (neighbor rank by (cos desc, vec_id), vote by
    // (votes desc, label asc) — the aggregator's (score desc, id asc)
    // order), so no stage ever sorts the full candidate set in one
    // task: the shuffle carries ≤5 rows per query, and the neighbor
    // labels come back via a broadcast of the ≤5×Q winner rows against
    // the already-checkpointed frame (map-only). The window twin
    // `sim_knn_window` shares this oracle as the equality proof.
    "sim_knn_classify" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val topk = udaf(new graft.functions.TopKAggregator(5))
        val top5 = knnScored(s, e)
          .groupBy($"query_id", $"true_label")
          .agg(topk($"cos_sim", $"vec_id").as("top"))
          .select($"query_id", $"true_label", explode($"top.ids").as("vec_id"))
        // the winners are ≤ k rows per query — broadcast them back over
        // the checkpointed frame for their labels (no shuffle of e)
        val neighbors = e.select($"vec_id", $"label")
          .join(broadcast(top5), Seq("vec_id"))
        val top1 = udaf(new graft.functions.TopKAggregator(1))
        neighbors
          .groupBy($"query_id", $"true_label", $"label")
          .agg(count(lit(1)).as("votes"))
          // ≤5 vote rows per query; vote counts are small exact ints,
          // so the double score ranks them exactly
          .groupBy($"query_id", $"true_label")
          .agg(top1($"votes".cast(DoubleType), $"label".cast(LongType)).as("v"))
          .select($"query_id", $"true_label",
            $"v.ids".getItem(0).cast(IntegerType).as("pred_label"))
          .withColumn("correct", $"pred_label" === $"true_label")
          .orderBy($"query_id")
      },
      oracle = Some(knnOracleSql)),

    // ── window-ranked twin of sim_knn_classify: the full-candidate
    //    row_number form, kept (non-headline) as the per-round equality
    //    proof for the aggregator path — identical oracle ──
    "sim_knn_window" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val wRank = Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"vec_id")
        val neighbors = knnScored(s, e)
          .withColumn("rnk", row_number().over(wRank))
          .filter($"rnk" <= 5)
        val wVote = Window.partitionBy($"query_id")
          .orderBy($"votes".desc, $"label")
        neighbors
          .groupBy($"query_id", $"true_label", $"label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wVote))
          .filter($"vr" === 1)
          .select($"query_id", $"true_label", $"label".as("pred_label"),
            ($"label" === $"true_label").as("correct"))
          .orderBy($"query_id")
      },
      oracle = Some(knnOracleSql)),

    // ── int8 symmetric quantization + reconstruction error ──
    // The storage face of embedding work at 100 TB: 4x smaller vectors
    // with measured fidelity. Pure per-row HOF arithmetic — codegen'd
    // map work in the scan stage, no shuffle, no UDF. Every fp step is
    // ordered identically in both engines (array-order folds, same
    // association), so the error values hash-match exactly.
    "sim_quantize_int8" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        embDouble(s, d)
          .withColumn("scale",
            aggregate(transform($"emb", x => abs(x)), lit(0.0),
              (a, b) => greatest(a, b)))
          .select($"vec_id", $"label",
            round($"scale", 9).as("qscale"),
            round(sqrt(aggregate(
              transform($"emb", x =>
                pow(x - round(x / $"scale" * 127) * $"scale" / 127, 2.0)),
              lit(0.0), (a, b) => a + b)), 9).as("recon_err"))
          .orderBy($"vec_id")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        s AS (SELECT vec_id, label, emb,
                list_reduce(list_prepend(0.0, list_transform(emb, x -> abs(x))),
                  (a, b) -> greatest(a, b)) AS scale
              FROM e)
        SELECT vec_id, label, round(scale, 9) AS qscale,
          round(sqrt(list_sum(list_transform(generate_series(1, len(emb)), i ->
            pow(emb[i] - round(emb[i] / scale * 127) * scale / 127, 2)))), 9)
            AS recon_err
        FROM s
        ORDER BY vec_id""")),

    // ── binary (1-bit) quantization + Hamming prefilter + exact rerank ──
    // The third compression tier after int8 (`sim_quantize_int8`) and
    // PQ (`sim_ann_pq_search`), and the two-stage serving pattern
    // production vector stores ship as "binary quantization with
    // oversampled rescore": each vector compresses 512× to one sign
    // bit per dimension (bit i set iff emb[i] > 0 — the embeddings
    // are zero-centered, so the sign plane is the natural 1-bit
    // quantizer and the comparison is float-exact in both engines),
    // stage 1 ranks ALL candidates by Hamming distance on the packed
    // words (XOR + popcount — the cheapest distance that exists), and
    // stage 2 re-scores only the top-[[BqRerankC]] survivors with
    // exact cosine. Bits pack into TWO 32-bit-filled BIGINT words
    // (not one 64-bit word: bit 63 flips the sign and a sum-of-
    // disjoint-powers build would overflow under ANSI; two positive
    // words keep the build pure integer arithmetic in both engines,
    // and hamming = popcount(xor(lo)) + popcount(xor(hi))).
    // Plan shape: the words table is ONE map-only projection (the
    // 64-element fold runs once per row; a deployment persists it
    // like the PQ codes artifact), stage 1 is a broadcast of 5 query
    // words onto that scan with the bounded-buffer TopKAggregator
    // (≤C rows per query cross the shuffle), and stage 2 broadcasts
    // the Q×C surviving ids back onto the embedding scan — the raw
    // vectors are read map-only, never shuffled. At 10^9 vectors
    // stage 1 touches 8 bytes/vector instead of 512.
    "sim_binary_rerank" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val words = e.select($"vec_id",
          expr("aggregate(sequence(0, 31), 0L, (acc, i) -> " +
            "acc + IF(element_at(emb, i+1) > 0D, shiftleft(1L, i), 0L))")
            .as("w_lo"),
          expr("aggregate(sequence(32, 63), 0L, (acc, i) -> " +
            "acc + IF(element_at(emb, i+1) > 0D, shiftleft(1L, i-32), 0L))")
            .as("w_hi"))
          .pin() // the persisted-codes stand-in: built once,
                             // scanned by stage 1 and the query side
        val qw = words.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"w_lo".as("q_lo"),
            $"w_hi".as("q_hi"))
        val topC = udaf(new graft.functions.TopKAggregator(BqRerankC))
        val cands = words.crossJoin(broadcast(qw))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("ham",
            expr("bit_count(w_lo ^ q_lo) + bit_count(w_hi ^ q_hi)")
              .cast(LongType))
          .groupBy($"query_id")
          // -ham: aggregator ranks score desc, id asc == ham asc, id asc
          .agg(topC(-$"ham".cast(DoubleType), $"vec_id").as("top"))
          .select($"query_id", explode($"top.ids").as("vec_id"))
        rescoreTop5(e, cands)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        w AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(generate_series(1, 32),
              i -> CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i-1))
                   ELSE 0 END)) AS BIGINT) AS w_lo,
            CAST(list_sum(list_transform(generate_series(33, 64),
              i -> CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i-33))
                   ELSE 0 END)) AS BIGINT) AS w_hi
          FROM e),
        qw AS (
          SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
          FROM w WHERE vec_id < 5),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT qw.query_id, w.vec_id,
              ROW_NUMBER() OVER (PARTITION BY qw.query_id ORDER BY
                bit_count(xor(w.w_lo, qw.q_lo)) +
                bit_count(xor(w.w_hi, qw.q_hi)) ASC,
                w.vec_id) AS cr
            FROM qw, w WHERE w.vec_id <> qw.query_id) x
          WHERE cr <= $BqRerankC),
        $rescoreTop5Sql""")),

    // ── prefix-dimension two-stage search (Matryoshka serving shape) ──
    // The OTHER two-stage pattern production stores ship: rank with a
    // PREFIX of the embedding (MRL deployments store the first-k dims
    // as the cheap tier), rescore survivors at full dimension. Trained
    // matryoshka embeddings front-load information so tiny prefixes
    // hold recall; this fixture's embeddings are untrained (uniform
    // information per dim), so the prefix carries signal ∝ dims —
    // measured recall@5 at C=50: 16 dims 0.44-0.64, 32 dims 0.68-0.76
    // — and the operator uses [[MrlPrefixDim]]=32 (half the read
    // volume; 4× less than the full-float tier, the honest truncation
    // number for non-MRL vectors). Same plan skeleton as
    // `sim_binary_rerank`: prefix table = ONE map-only projection (the
    // stored cheap tier), stage 1 broadcasts 5 query prefixes onto it
    // with the bounded-buffer aggregator (≤C rows per query cross the
    // shuffle), stage 2 broadcasts the Q×C survivors onto the map-only
    // full-embedding scan.
    "sim_prefix_rerank" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val pre = e.select($"vec_id",
          slice($"emb", 1, MrlPrefixDim).as("pemb"))
          .pin() // the stored prefix tier: stage-1 scan + query side
        val qp = pre.filter($"vec_id" < 5)
          .select($"vec_id".as("query_id"), $"pemb".as("qpemb"))
        val topC = udaf(new graft.functions.TopKAggregator(BqRerankC))
        val cands = pre.crossJoin(broadcast(qp))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("pcos", round(cosine($"qpemb", $"pemb"), 9))
          .groupBy($"query_id")
          .agg(topC($"pcos", $"vec_id").as("top"))
          .select($"query_id", explode($"top.ids").as("vec_id"))
        rescoreTop5(e, cands)
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        pre AS (SELECT vec_id, emb[1:$MrlPrefixDim] AS pemb FROM e),
        qp AS (
          SELECT vec_id AS query_id, pemb AS qpemb
          FROM pre WHERE vec_id < 5),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT qp.query_id, p.vec_id,
              ROW_NUMBER() OVER (PARTITION BY qp.query_id ORDER BY
                round(
                  list_sum(list_transform(generate_series(1, $MrlPrefixDim),
                    i -> qp.qpemb[i] * p.pemb[i])) /
                  (sqrt(list_sum(list_transform(qp.qpemb, x -> x*x))) *
                   sqrt(list_sum(list_transform(p.pemb, x -> x*x)))), 9) DESC,
                p.vec_id) AS cr
            FROM qp, pre p WHERE p.vec_id <> qp.query_id) x
          WHERE cr <= $BqRerankC),
        $rescoreTop5Sql""")),

    // ── embedding drift monitor (centroid cosine between cohorts) ──
    // The production-monitoring face of embedding work: split the
    // population into a reference and a current cohort (here by
    // vec_id parity — a deployment uses time windows) and report, per
    // label, the cosine between the two cohorts' centroids — the
    // scalar a drift alert thresholds when an upstream encoder or
    // data mix shifts. Means use the exact decimal-sum discipline of
    // sim_label_centroids; every cross/self product is quantized to
    // 12 digits before its decimal sum, so dot and norms — and the
    // final cosine — are bit-identical across engines. Two grouped
    // aggregates over the exploded components + one (label, pos)
    // equality join of two labels×64-row mean tables.
    "sim_centroid_drift" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embDouble(s, d)
          .select($"label", ($"vec_id" % 2).as("cohort"),
            posexplode($"emb").as(Seq("pos", "v")))
        val means = e.groupBy($"label", $"cohort", $"pos")
          .agg(sum(round($"v", 7).cast(DecimalType(20, 7))).as("sv"),
            count(lit(1)).as("n"))
          .withColumn("m", $"sv".cast(DoubleType) / $"n")
          .pin() // both cohort sides of the join
        val ref = means.filter($"cohort" === 0)
          .select($"label", $"pos", $"m".as("mr"), $"n".as("nr"))
        val cur = means.filter($"cohort" === 1)
          .select($"label", $"pos", $"m".as("mc"), $"n".as("nc"))
        ref.join(cur, Seq("label", "pos"))
          .groupBy($"label")
          .agg(max($"nr").as("n_ref"), max($"nc").as("n_cur"),
            sum(round($"mr" * $"mc", 12).cast(DecimalType(38, 12)))
              .as("dot"),
            sum(round($"mr" * $"mr", 12).cast(DecimalType(38, 12)))
              .as("r2"),
            sum(round($"mc" * $"mc", 12).cast(DecimalType(38, 12)))
              .as("c2"))
          .select($"label", $"n_ref", $"n_cur",
            round($"dot".cast(DoubleType) /
              (sqrt($"r2".cast(DoubleType)) * sqrt($"c2".cast(DoubleType))),
              9).as("centroid_cos"))
          .orderBy($"label")
      },
      oracle = Some("""
        WITH e AS (
          SELECT label, vec_id % 2 AS cohort, pos,
                 embedding[pos]::DOUBLE AS v
          FROM embeddings, range(1, 65) t(pos)),
        q AS (
          SELECT label, cohort, pos,
                 SUM(CAST(round(v, 7) AS DECIMAL(20,7))) AS sv,
                 COUNT(*) AS n
          FROM e GROUP BY label, cohort, pos),
        m AS (SELECT label, cohort, pos, CAST(sv AS DOUBLE) / n AS m, n
              FROM q),
        j AS (
          SELECT r.label, r.n AS nr, c.n AS nc,
                 CAST(round(r.m * c.m, 12) AS DECIMAL(38,12)) AS d,
                 CAST(round(r.m * r.m, 12) AS DECIMAL(38,12)) AS r2,
                 CAST(round(c.m * c.m, 12) AS DECIMAL(38,12)) AS c2
          FROM m r JOIN m c
            ON r.label = c.label AND r.pos = c.pos
            AND r.cohort = 0 AND c.cohort = 1)
        SELECT label, MAX(nr) AS n_ref, MAX(nc) AS n_cur,
               round(CAST(SUM(d) AS DOUBLE) /
                 (sqrt(CAST(SUM(r2) AS DOUBLE)) *
                  sqrt(CAST(SUM(c2) AS DOUBLE))), 9) AS centroid_cos
        FROM j GROUP BY label
        ORDER BY label""")),

    // ── k-means|| scalable seeding (Bahmani et al., VLDB 2012) ──
    // The init the Lloyd builds above take as given: k-means++ picks
    // one center per SEQUENTIAL pass (k passes over the data — dead at
    // scale); k-means|| oversamples ~l centers per pass independently
    // across points, needing only O(rounds) passes, then weights the
    // oversampled set for a driver-trivial final reduction. Each round
    // here is ONE crossJoin against the broadcast (tiny) center table
    // + a map-side-combined min per point; the Bernoulli draw p =
    // min(1, l·d²/φ) is DERANDOMIZED into pure integer arithmetic so
    // both engines sample the identical set: d² is floored to exact
    // micro-units (floor on a shared IEEE product — never round(), the
    // half-up trap), φ is their exact BIGINT sum, the per-(point,
    // round) hash is the Knuth-multiply gate in [0, P), and the
    // comparison hash·φ < l·d²µ·P runs in DECIMAL/HUGEINT (overflow-
    // free by width). A point already a center has d² = 0 and can
    // never re-sample, so rounds stay disjoint. Output is the weighted
    // coreset (center, round added, #points assigned) — the artifact
    // the final k-clustering consumes. Zero windows: assignment argmin
    // is min(struct(dist, cid)) with map-side combine.
    "sim_kmeanspar_init" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val e = embCheckpointed(s, d)
        val L = 16L // oversampling l = 2k for the k=8 builds above
        val P = 1000000007L
        var cents = e.orderBy(expr(seedHashSql), $"vec_id").limit(1)
          .select($"vec_id".as("cid"), $"emb".as("cemb"),
            lit(0L).as("round_added"))
          .pin()
        for (r <- 1 to 3) {
          val md = e.crossJoin(broadcast(cents.select($"cid", $"cemb")))
            .withColumn("dist", l2sq($"emb", $"cemb"))
            .groupBy($"vec_id")
            .agg(min($"dist").as("dmin"))
            .withColumn("d2u", expr("cast(floor(dmin * 1000000) as bigint)"))
          val phi = md.agg(sum($"d2u").as("phi"))
          val sampled = md.crossJoin(broadcast(phi))
            .filter(expr(
              s"cast(((vec_id % 1000003 + $r) * 2654435761) % $P " +
                s"as decimal(19,0)) * cast(phi as decimal(19,0)) < " +
                s"cast(d2u as decimal(19,0)) * cast($L as decimal(10,0)) * " +
                s"cast($P as decimal(19,0))"))
            .join(e, Seq("vec_id"))
            .select($"vec_id".as("cid"), $"emb".as("cemb"),
              lit(r.toLong).as("round_added"))
          cents = cents.unionByName(sampled).pin()
        }
        e.crossJoin(broadcast(cents.select($"cid", $"cemb")))
          .withColumn("dist", l2sq($"emb", $"cemb"))
          .groupBy($"vec_id")
          .agg(min(struct($"dist", $"cid")).as("m"))
          .groupBy($"m.cid".as("cid"))
          .agg(count(lit(1)).as("weight"))
          .join(broadcast(cents.select($"cid", $"round_added")), Seq("cid"))
          .select($"cid".as("vec_id"), $"round_added", $"weight")
          .orderBy($"vec_id")
      },
      oracle = Some(kmeansParOracleSql)),

    // ── Johnson–Lindenstrauss random projection (dimensionality
    //    reduction before the index) ──
    // The pre-ANN compaction step: project 64 dims onto 16 with a
    // deterministic dense random matrix (the same splitmix64
    // component stream the LSH planes draw from — uniform[-0.5, 0.5),
    // scaled by sqrt(12/16) so component variance is 1/16 and
    // expected norms are preserved; JL distortion bounds follow,
    // SimilaritySpec measures them). ENTIRELY map-only: the 16×64
    // matrix folds into the plan as literals, the projection codegens
    // into the scan stage, and there is no shuffle at all — the shape
    // that matters when the input is 10^9 vectors of storage. Values
    // round to 9 digits off the shared left-to-right dot fold, the
    // established cross-engine pairing, and emit long-form (vec_id,
    // dim, value) — one row per projected component, the layout the
    // downstream index build consumes.
    "sim_jl_project" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val scale = math.sqrt(12.0 / JlDim)
        val e = embDouble(s, d)
        val comps = (0 until JlDim).map { j =>
          val p = array((0 until Dim).map(i =>
            lit(graft.functions.VectorFunctions.planeComponent(
              JlPlaneBase + j, i, Dim))): _*)
          struct(lit(j.toLong).as("dim"),
            round(graft.functions.VectorFunctions.dot($"emb", p) * scale, 9)
              .as("value"))
        }
        e.select($"vec_id", explode(array(comps: _*)).as("x"))
          .select($"vec_id", $"x.dim".as("dim"), $"x.value".as("value"))
          .orderBy($"vec_id", $"dim")
      },
      oracle = Some(jlOracleSql))
  )

  /** Self-contained oracle for `sim_jl_project`: all 16×64 matrix
    * components as literals (Double.toString round-trips exactly),
    * the identical left-to-right dot fold, the identical sqrt scale. */
  private lazy val jlOracleSql: String = {
    val planeRows = (0 until JlDim).map { j =>
      val comps = (0 until Dim)
        .map(i => graft.functions.VectorFunctions.planeComponent(
          JlPlaneBase + j, i, Dim))
        .mkString(", ")
      s"($j, [$comps])"
    }.mkString(",\n            ")
    s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
            $planeRows) t(j, p))
        SELECT e.vec_id, CAST(pl.j AS BIGINT) AS dim,
               round(list_sum(list_transform(generate_series(1, $Dim),
                 i -> e.emb[i] * pl.p[i])) * sqrt(12.0 / $JlDim), 9) AS value
        FROM e CROSS JOIN planes pl
        ORDER BY vec_id, dim"""
  }

  /** Self-contained oracle for `sim_kmeanspar_init`: the three
    * oversampling rounds unroll as CTE chains — per round the exact
    * micro-unit min-distance table, its BIGINT potential, and the
    * derandomized HUGEINT sampling gate — then the final weighted
    * assignment. Identical arithmetic, identical tie-breaks. */
  private lazy val kmeansParOracleSql: String = {
    def round(r: Int): String = {
      val prev = s"k${r - 1}"
      s"""
        md$r AS (
          SELECT e.vec_id,
                 CAST(floor(MIN(list_sum(list_transform(
                     generate_series(1, $Dim),
                     i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i]))))
                   * 1000000) AS BIGINT) AS d2u
          FROM e, $prev c GROUP BY e.vec_id),
        p$r AS (SELECT CAST(SUM(d2u) AS BIGINT) AS phi FROM md$r),
        s$r AS (
          SELECT m.vec_id, e.emb
          FROM md$r m JOIN e USING (vec_id) CROSS JOIN p$r
          WHERE CAST(((m.vec_id % 1000003 + $r) * 2654435761) % 1000000007
                  AS HUGEINT) * p$r.phi
              < CAST(m.d2u AS HUGEINT) * 16 * 1000000007),
        k$r AS (
          SELECT * FROM $prev
          UNION ALL
          SELECT vec_id, emb, CAST($r AS BIGINT) FROM s$r)"""
    }
    s"""
        $embCteSql,
        k0 AS (
          SELECT vec_id AS cid, emb AS cemb, CAST(0 AS BIGINT) AS round_added
          FROM e ORDER BY $seedHashSql, vec_id LIMIT 1),
        ${round(1)},
        ${round(2)},
        ${round(3)},
        fin AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                list_sum(list_transform(generate_series(1, $Dim),
                  i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i]))) ASC,
                c.cid) AS rn
            FROM e, k3 c) x
          WHERE rn = 1)
        SELECT k.cid AS vec_id, k.round_added, COUNT(*) AS weight
        FROM fin f JOIN k3 k ON k.cid = f.cid
        GROUP BY k.cid, k.round_added
        ORDER BY vec_id"""
  }
}
