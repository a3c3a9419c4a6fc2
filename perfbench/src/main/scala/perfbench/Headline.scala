package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, SparkEntry}
import graft.operators._

/** Headline operator queries, one client in a closed loop, one query
  * per operator family. Each query is materialized with the
  * column-pruning-proof `bit_xor(xxhash64(*))` fold plus a row count and
  * checked against a golden record; pinned storage is released between
  * queries, outside the timed region. The index artifacts the
  * similarity query serves from are built during set-up, in a fresh
  * artifacts root, so the timed region measures serving. */
object Headline extends Workload {
  val name = "headline"

  val families: Seq[(String, Seq[QueryPack])] = Seq(
    "relational" -> Seq(Relational, Layout, IngestAnalog),
    "dedup" -> Seq(Dedup),
    "similarity" -> Seq(Similarity),
    "text" -> Seq(TextAnalysis, CorpusAssembly, Scoring),
    "eventtime" -> Seq(EventTime))

  /** One headline query per family: the timed set. */
  val queries = Seq(
    "q_zorder_layout", "dedup_clusters", "sim_range_search_filtered", "llm_suffix_dups_panel", "evt_peak_concurrency")

  /** The similarity query; its first touch builds its IVF index. */
  val indexQuery = "sim_range_search_filtered"
  val setups = 3
  val minPasses = 2

  def familyOf(query: String): String = {
    val hits = families.collect { case (f, packs) if packs.exists(_.queries.contains(query)) => f }
    require(hits.size == 1, s"headline query $query belongs to ${hits.size} families")
    hits.head
  }

  /** (rows, fold) of a materialized result; fold is 0 for an empty one. */
  def materialize(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Count and bytes of pinned (persisted or checkpointed) storage. */
  def pins(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Golden (rows, fold) per query; a fold of None is checked by row
    * count only (its fold is not bit-stable from run to run). */
  def golden(home: Path): Map[String, (Long, Option[Long])] = {
    val f = home.resolve("golden/headline.tsv")
    Files.readAllLines(f).asScala.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(q, rows, fold) = l.trim.split("\\s+")
      q -> (rows.toLong, if (fold == "-") None else Some(fold.toLong))
    }.toMap
  }

  /** One timed call: build (the query function, where eager pins run)
    * then exec (the materializing collect). */
  final case class Call(query: String, pass: Int, buildS: Double, execS: Double,
      startMs: Long, endMs: Long, pins: Int, pinBytes: Long, ok: Boolean) {
    def wallS: Double = buildS + execS
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val dir = ctx.home.resolve("data/sf0.01").toString
    val names = queries
    names.foreach(familyOf)
    val gold = golden(ctx.home)

    def call(q: String, pass: Int): Call = {
      val fam = familyOf(q)
      val group = s"h/${if (pass >= 0) "timed" else "untimed"}/$fam/$q"
      val startMs = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      val out = scala.util.Try {
        val df = ctx.inGroup(s"$group/build")(ctx.tracer.span(s"$fam.build")(SparkEntry.queries(q)(spark, dir)))
        b = System.nanoTime()
        ctx.inGroup(s"$group/exec")(ctx.tracer.span(s"$fam.exec")(materialize(df)))
      }
      val c = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val (nPins, pinBytes) = if (ctx.traced) pins(spark) else (0, 0L)
      release(spark)
      val ok = out match {
        case scala.util.Success((rows, fold)) => gold.get(q) match {
          case Some((gr, gf)) if gr == rows && gf.forall(_ == fold) => true
          case Some((gr, gf)) =>
            res.problem(s"$q returned rows $rows fold $fold, golden rows $gr fold ${gf.getOrElse("-")}"); false
          case None => res.problem(s"$q has no golden record (rows $rows fold $fold)"); false
        }
        case scala.util.Failure(e) =>
          res.problem(s"$q failed: $e"); false
      }
      if (b == a) b = c // a failed build has no exec phase
      Call(q, pass, (b - a) / 1e9, (c - b) / 1e9, startMs, endMs, nPins, pinBytes, ok)
    }

    // set-up: first touch of the similarity query in a fresh artifacts
    // root, several times; it builds the IVF index, and the last root is
    // the one the timed passes serve from. Then one untimed call of
    // every other query (the z-order query builds its cut artifact
    // there), so the timed passes run on a warm JVM.
    val setupCalls = mutable.ArrayBuffer.empty[Call]
    def untimed(q: String): Call = {
      val c = call(q, -1)
      if (!c.ok) throw new IllegalStateException(s"set-up query $q failed")
      setupCalls += c
      c
    }
    val setupTimes = (0 until setups).map { i =>
      spark.conf.set("spark.graft.artifactsRoot", "file:" + ctx.work.resolve(s"artifacts-$i"))
      val t0 = System.nanoTime()
      ctx.tracer.span("setup")(untimed(indexQuery))
      (System.nanoTime() - t0) / 1e9
    }
    res.setup(setupTimes)
    val w0 = System.nanoTime()
    ctx.tracer.span("warmup")(names.filterNot(_ == indexQuery).foreach(untimed))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // timed passes: at least two, until the run's time is spent
    val calls = mutable.ArrayBuffer.empty[Call]
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      ctx.tracer.span("pass") {
        names.foreach(q => calls += call(q, pass))
      }
      pass += 1
    }
    calls.foreach(c => res.attempt(c.ok))
    // a failed call keeps its wall: it never drops out of a sum or median
    val passWalls = calls.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.wallS).sum)
    val perQuery = names.map(q => Stats.median(calls.filter(_.query == q).map(_.wallS).toSeq))
    res.e2e("unit_s", perQuery.sum, "s", calls.size)
    res.e2e("latency_s", Stats.geomean(perQuery), "s", calls.size)

    // per family, per pass (medians across passes)
    res.layer("headline.warmup_s", warmupS, "s")
    // the same set-ups `setup_s` takes: all but the cold first one
    val builds = setupCalls.filter(_.query == indexQuery).map(_.wallS).toSeq.drop(1)
    res.layer("similarity.index_build_s", if (builds.isEmpty) 0.0 else Stats.median(builds), "s", builds.size)
    val cores = spark.sparkContext.defaultParallelism
    ctx.sparkTrace.foreach(_.settle())
    families.foreach { case (fam, _) =>
      val fc = calls.filter(c => familyOf(c.query) == fam)
      // per pass: each query's median over the passes, summed over the family
      def perPass(f: Call => Double): Double =
        fc.groupBy(_.query).values.map(cs => Stats.median(cs.map(f).toSeq)).sum
      res.layer(s"${fam}_s", perPass(_.wallS), "s", pass)
      res.layer(s"$fam.build_s", perPass(_.buildS), "s", pass)
      res.layer(s"$fam.exec_s", perPass(_.execS), "s", pass)
      res.layer(s"$fam.pins", perPass(_.pins.toDouble), "count", pass)
      res.layer(s"$fam.pin_mb", perPass(_.pinBytes / 1048576.0), "MiB", pass)
      ctx.sparkTrace.foreach { t =>
        val g = t.groups(s"h/timed/$fam/")
        val passes = math.max(pass, 1).toDouble
        res.layer(s"$fam.plan_s", fc.map(c => t.planSeconds(c.startMs, c.endMs)).sum / passes, "s", pass)
        res.layer(s"$fam.jobs", g.jobs / passes, "count", pass)
        res.layer(s"$fam.tasks", g.tasks / passes, "count", pass)
        res.layer(s"$fam.task_s", g.runMs / 1000.0 / passes, "s", pass)
        res.layer(s"$fam.gc_s", g.gcMs / 1000.0 / passes, "s", pass)
        res.layer(s"$fam.shuffle_mb", g.shuffleWriteBytes / 1048576.0 / passes, "MiB", pass)
        res.layer(s"$fam.spill_mb", g.spillBytes / 1048576.0 / passes, "MiB", pass)
        val wall = perPass(_.wallS)
        res.layer(s"$fam.core_use", if (wall > 0) g.runMs / 1000.0 / passes / (wall * cores) else 0.0, "ratio", pass)
      }
    }
    if (ctx.traced) {
      val spans = ctx.tracer.all
      val timed = spans.filter(_.name == "pass").map(_.id).toSet
      Trace.report(res, spans.filter(s => timed(s.parent)), passWalls.sum)
    }
    println(f"[headline] passes $pass pass_s ${passWalls.map(t => f"$t%.2f").mkString(",")} warmup $warmupS%.2f setup ${setupTimes.map(t => f"$t%.2f").mkString(",")}")
    calls.foreach(c => println(f"[headline] pass ${c.pass} ${c.query}%-26s build ${c.buildS}%.3f exec ${c.execS}%.3f"))
  }
}
