package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Crash-safe two-generation state at `dir/name`: the ingest poll
  * state and carry spools, and the committed state of every streaming
  * face and drain watermark. One handle owns the three generation
  * names, `target` / `target.old` / `target.tmp` (the spools keep
  * their `.parquet` extension last: `x.parquet` / `x.old.parquet` /
  * `x.tmp.parquet`), and the protocol: read [[readable]], write the
  * [[tmp]] generation ([[stage]]), then [[publish]] it.
  *
  * Every step goes through the Hadoop `FileSystem` the path names, so
  * `dir` may be a local path, a `file:` URI or shared storage
  * (`hdfs://`, an NFS mount) — anything whose directory rename is
  * atomic. A generation is readable when it holds a parquet part;
  * `publish` stages the old target before the rename, so a crash at
  * any step leaves the old or the new generation readable, never
  * neither, and readers fall back to the staged `.old` generation. At
  * worst a crash re-serves or re-fetches a generation
  * (at-least-once); it never loses one.
  */
private[graft] final class FsSwap private (conf: Configuration, dir: String,
    name: String, ext: String) {

  val target: String = s"$dir/$name$ext"
  val old: String = s"$dir/$name.old$ext"
  val tmp: String = s"$dir/$name.tmp$ext"

  private lazy val fs = new Path(target).getFileSystem(conf)

  /** The current readable generation: the target if present, else the
    * staged old generation (recovery after a crash mid-publish). */
  def readable: Option[String] =
    Seq(target, old).find(FsSwap.hasParts(fs, _))

  /** Write `df` as the tmp generation, replacing a crashed attempt's. */
  def stage(df: Dataset[_]): Unit = df.write.mode("overwrite").parquet(tmp)

  /** Stage `df` as one part file and publish it: the small-state
    * commit of the streaming faces and drain watermarks. */
  def commit(df: DataFrame): Unit = { stage(df.coalesce(1)); publish() }

  /** Publish `tmp` as `target`. The old target is staged at `old` only
    * when it exists; a staged generation from a previous crash is kept
    * until the publish completes.
    *
    * SINGLE-PUBLISHER contract: the stage-then-rename pair is atomic
    * only against CRASHES, not against a concurrent publisher — two
    * drains publishing the same target could interleave the two
    * renames and leave the staged old generation as the readable one.
    * Callers must ensure one publisher per `dir` at a time; concurrent
    * EXECUTION is fine, concurrent PUBLISH is not. */
  def publish(): Unit = {
    val targetP = new Path(target)
    val oldP = new Path(old)
    if (fs.exists(targetP)) {
      if (fs.exists(oldP)) fs.delete(oldP, true)
      if (!fs.rename(targetP, oldP))
        throw new java.io.IOException(s"cannot stage $target -> $old")
    }
    if (!fs.rename(new Path(tmp), targetP))
      throw new java.io.IOException(s"cannot publish $tmp -> $target")
    if (fs.exists(oldP)) fs.delete(oldP, true)
    ()
  }

  /** Delete every generation (a fully drained spool). */
  def drop(): Unit =
    Seq(target, old, tmp).foreach(p => fs.delete(new Path(p), true))

  /** The replay fence of a `foreachBatch` face whose state records the
    * last folded batch id: true iff `batchId` re-runs that batch (a
    * crash between the state commit and the batch commit), which the
    * face must not fold again. A `batchId` BELOW it means the
    * streaming checkpoint was reset while this state survived (batch
    * ids restarted at 0); folding or skipping would silently corrupt
    * or drop data, so it fails loudly instead. */
  def replay(face: String, batchId: Long, lastBatch: Long): Boolean = {
    if (batchId < lastBatch) throw new IllegalStateException(
      s"$face: batch $batchId below committed $lastBatch — checkpoint " +
        s"was reset while state dir $dir survived; clear one or the other")
    batchId == lastBatch
  }
}

private[graft] object FsSwap {

  /** The generation `dir/name` (the streaming faces' state). */
  def apply(conf: Configuration, dir: String, name: String): FsSwap =
    new FsSwap(conf, dir, name, "")

  /** The parquet spool `dir/name.parquet` (the ingest poll state and
    * carry-over buffer). */
  def spool(conf: Configuration, dir: String, name: String): FsSwap =
    new FsSwap(conf, dir, name, ".parquet")

  /** True when `dir` (on `fs`) holds a parquet part (file or
    * subdirectory). */
  def hasParts(fs: FileSystem, dir: String): Boolean = {
    val p = new Path(dir)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.endsWith(".parquet"))
  }
}
