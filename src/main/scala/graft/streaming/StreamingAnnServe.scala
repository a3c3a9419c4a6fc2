package graft.streaming

import org.apache.spark.sql.graftshim.Shim.PinSyntax
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Continuous ANN serving over the FROZEN IVF+PQ artifact — the 25th
  * streaming face, and the missing runtime half of the index
  * lifecycle the batch faces already cover (build → append →
  * retrain-signal → rebuild): a serving tier doesn't re-run a batch
  * job per request, it holds the frozen index and answers query
  * BATCHES as they arrive.
  *
  * Everything batch-invariant is resolved ONCE, before `.start()`
  * (round-15 verdict #1 — the first cut recomputed all three per
  * micro-batch, which at 10^9 vectors / a partitioned 100 TB corpus
  * is millions of object-store list calls plus a full artifact scan
  * on EVERY serving batch):
  *  - the persisted artifacts (cells, centroids, codebooks) — their
  *    cache-key resolution does a RECURSIVE source-corpus listing
  *    ([[Similarity.sourceIdentity]]); the index is frozen by this
  *    face's premise, so the resolved paths cannot change mid-stream;
  *  - the predicate's passer census ([[Similarity.passerCensus]]) — a
  *    full scan+aggregate of the inverted-list artifact; the
  *    predicate is fixed at stream start, so the O(cells) map is
  *    stream-constant.
  * StreamingAnnServeSpec proves the hoist through the probe-hook
  * counters ([[Similarity.sourceIdentityCalls]] /
  * [[Similarity.passerCensusCalls]]): serving micro-batches bumps
  * NEITHER after stream start.
  *
  * Per micro-batch of (query_id, qemb) rows the coordinator does only
  * the real serving work: rank the batch's probes against the
  * broadcast centroid table, derive each query's probe budget by the
  * PLANNER arithmetic on the pre-resolved census
  * ([[Similarity.plannerBudgetsOnCensus]] — selectivity-aware, static
  * floor, all-cells fallback), price the batch's ADC lookup table
  * against the frozen codebooks, and run the partition-pruned in-scan
  * filtered search ([[Similarity.ivfpqSearchOnRanking]]). Emissions
  * carry (query_id, rnk, vec_id, label, adist, probes_used,
  * batch_id).
  *
  * `excludeSelf` (default false): serving queries normally arrive
  * from OUTSIDE the corpus, where query ids live in their own
  * namespace — an external query whose id happens to collide with a
  * corpus vec_id must NOT silently lose that vector as a candidate
  * (round-15 ADVICE). Pass true only when the queries genuinely ARE
  * corpus vectors and the trivial self-match should be dropped (the
  * registry faces' convention, and what StreamingAnnServeSpec's
  * batch-identity gate uses).
  *
  * STATELESS by design — the frozen artifact IS the state, shared by
  * every executor through the artifacts root; the stream holds
  * nothing between batches, so there is no replay hazard to
  * chaos-gate: a replayed batch recomputes the identical answer from
  * the identical artifact (exactly-once delivery is the SINK's
  * concern, as for any idempotent-output stream).
  * StreamingAnnServeSpec gates the face's real contract instead:
  * emissions for a query set split across micro-batches are
  * row-identical to the batch face (`sim_ann_ivfpq_adaptive`) run on
  * the same queries — per-query planner budgets are independent
  * arithmetic, so batch boundaries cannot change any answer.
  *
  * 100 TB shape: per batch the coordinator does O(batch × cells)
  * ranking + O(batch × PqSub × PqK) LUT assembly (the real serving
  * coordinator's job), the scan opens only probed cells' files, the
  * predicate filters inside the scan, and ≤k rows per query cross
  * the one shuffle.
  */
object StreamingAnnServe {

  /** Start the serving stream over (query_id: Long, qemb:
    * Array[Double]) rows against `d`'s frozen index; `pred` is the
    * stored-attribute predicate served in-scan; `sink` receives each
    * batch's ranked answers. */
  def serveStream(
      queries: DataFrame,
      d: String,
      pred: org.apache.spark.sql.Column,
      checkpointDir: String,
      sink: DataFrame => Unit,
      excludeSelf: Boolean = false): StreamingQuery = {
    val session = queries.sparkSession
    // frozen-index invariants, resolved once and closed over: artifact
    // resolution (the recursive source-identity listing) and the
    // passer census never run again for the stream's lifetime
    val (cells, cents) = Similarity.ivfpqPersistedModel(session, d)
    val (_, books) = Similarity.pqPersistedModel(session, d)
    val census = Similarity.passerCensus(cells, pred)
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        if (batch.isEmpty)
          sink(Seq.empty[(Long, Long, Long, Long, Double, Long, Long)]
            .toDF("query_id", "rnk", "vec_id", "label", "adist",
              "probes_used", "batch_id"))
        else {
          // the batch is read ≥3 times (ranking, LUT, the search's
          // probe pairing) — pin it; pinned only on the non-empty
          // path so an idle tick doesn't pay the checkpoint job
          val q = batch
            .select($"query_id".cast("long").as("vec_id"), $"qemb".as("emb"))
            .pin()
          val ranking = Similarity.probeRankingFor(s, cents,
            q.select($"vec_id".as("query_id"), $"emb".as("qemb")))
          val budgets = Similarity.plannerBudgetsOnCensus(census, ranking)
          val lut = Similarity.pqQueryLutWideFor(s, q, books)
          sink(Similarity.ivfpqSearchOnRanking(s, cells, lut, ranking,
              pred, budgets, excludeSelf)
            .withColumn("batch_id", lit(batchId)))
        }
        ()
      }
      .start()
  }
}
