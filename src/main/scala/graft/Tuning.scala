package graft

import org.apache.spark.sql.SparkSession

/** Session sizing for the target deployment, stated as rules rather
  * than magic numbers (SURVEY.md §7; the 100 TB design contract):
  *
  *  - `shuffle.partitions`: ~2× total cores so every core gets work
  *    even with stragglers, while AQE coalescing merges the tail of
  *    small partitions after each exchange. At 1000 executors × 4
  *    cores that's 8000 — never the 200 default, which would put
  *    12.5 GB in every reducer at 100 TB.
  *  - `parallelPartitionDiscovery.parallelism`: the same ~2× total
  *    cores. Above 32 root paths (a directory glob expands to one
  *    root path per file) `InMemoryFileIndex` lists them with a Spark
  *    job of `min(paths, this)` tasks. Spark's default of 10000 means
  *    one task per file, so every file-stream trigger would launch a
  *    task per file in the drop directory. At 2× cores the listing
  *    stays distributed (a 100k-object S3 prefix is still listed in
  *    parallel) without per-file scheduling overhead.
  *  - `files.maxPartitionBytes` 128 MiB: a scan task's working set
  *    must fit the per-core memory slice (executor-mem ×
  *    memory-fraction / cores, typically ~1 GiB) with room for the
  *    operator above it; 128 MiB compressed parquet decodes to
  *    several× that in memory.
  *  - AQE on, with skew-join splitting: runtime re-planning handles
  *    the skew that static planning cannot know (hot users, hot
  *    terms, giant near-dup clusters) by splitting oversized
  *    partitions at shuffle boundaries; pair with explicit salting
  *    (`operators/Salting`) only for keys skewed beyond AQE's split
  *    factor.
  *  - Broadcast threshold 64 MiB: dimension tables (region, nation,
  *    rate tables, query vectors, block-pair maps) must broadcast —
  *    a shuffle of the fact side against a 25-row dim is the single
  *    largest avoidable cost in the TPC-H-shaped queries.
  *  - UTC session timezone and nanosAsLong: cross-engine timestamp
  *    determinism for the oracle compare (see graft.Tables).
  */
object Tuning {

  /** The sizing rules for a deployment with `totalCores` cores, as
    * (conf key, value) pairs in the order [[configure]] applies them. */
  def rules(totalCores: Int): Seq[(String, String)] = {
    val fanOut = math.max(totalCores * 2, 8).toString
    Seq(
      "spark.sql.shuffle.partitions" -> fanOut,
      "spark.sql.sources.parallelPartitionDiscovery.parallelism" -> fanOut,
      "spark.sql.files.maxPartitionBytes" -> s"${128 * 1024 * 1024}",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> s"${64 * 1024 * 1024}",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
  }

  /** Apply the sizing rules for a deployment with `totalCores` cores.
    * Local test sessions pass the local core count; a cluster deploy
    * passes executors × cores-per-executor. */
  def configure(b: SparkSession.Builder, totalCores: Int): SparkSession.Builder =
    rules(totalCores).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Root of the persisted-artifact tier (PQ/IVF/NSW indexes, z-order
    * cut tables, compaction output, multimodal tar shards), selected by
    * `spark.graft.artifactsRoot` — a deployment choice like the pin
    * strategy (`spark.graft.pin`, see
    * [[org.apache.spark.sql.graftshim.Shim.pin]]):
    *
    *  - default `file:<java.io.tmpdir>/graft_artifacts`: right for
    *    local/single-JVM sessions (tests, the bench), where driver and
    *    executors share one filesystem.
    *  - a cluster deploy MUST point it at shared storage visible to
    *    every executor AND the driver under the same scheme/path
    *    (HDFS, S3A, NFS …): artifacts are written executor-side while
    *    completeness checks and reads resolve the path driver-side, so
    *    a node-local default would silently fragment the tier — each
    *    node builds its own partial copy and the driver's `_SUCCESS`
    *    check consults a third filesystem. The staging-rename install
    *    ([[graft.operators.Similarity.installArtifact]]) additionally
    *    wants a root where rename is atomic (HDFS/NFS yes; S3A renames
    *    are copy-based, safe here but slower).
    *
    * Trailing slashes are trimmed so keyed paths concatenate cleanly. */
  def artifactsRoot(spark: SparkSession): String =
    spark.conf
      .get("spark.graft.artifactsRoot",
        s"${sys.props("java.io.tmpdir")}/graft_artifacts")
      .stripSuffix("/")
}
