package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Tuning

/** What one workload run hands back: attempts, failures, output-check
  * verdict, and named metrics with their unit and sample count. */
final class Result {
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String, Int)]

  def correct: Boolean = problems.isEmpty
  def problem(msg: String): Unit = { problems += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
  def problemList: Seq[String] = problems.toList

  /** Counts one attempted operation; a failed one also counts against `failed`. */
  def attempt(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def e2e(name: String, value: Double, unit: String, n: Int): Unit = endToEnd(name) = (value, unit, n)

  /** `setup_s`: the median of the set-ups after the first, which runs in
    * a cold JVM and serves as its warm-up. */
  def setup(times: Seq[Double]): Unit = e2e("setup_s", Stats.median(times.drop(1)), "s", times.size - 1)

  def layer(name: String, value: Double, unit: String, n: Int = 1): Unit = perLayer(name) = (value, unit, n)
}

/** Everything a workload needs: the session, its private work dir, and
  * the run's arguments. */
final case class Ctx(
    spark: SparkSession,
    home: Path,
    work: Path,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    sparkTrace: Option[SparkTrace]) {
  def traced: Boolean = tracer.enabled
  def sc = spark.sparkContext

  /** Runs `body` with every Spark job it submits tagged with `group`;
    * the enclosing group, if any, is restored afterwards. */
  def inGroup[T](group: String)(body: => T): T = {
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally outer match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx, res: Result): Unit
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --home <perfbench dir> --work <dir> [--out <dir>]`.
  * The last stdout line is the result object; the line before it gives
  * each metric's sample count. */
object Main {

  val workloads: Seq[Workload] = Seq(Headline, Ingest, Stream)

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (steal, total) CPU ticks of the whole machine, from /proc/stat. */
  def steal(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    } finally src.close()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = Tuning.configure(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.artifactsRoot", "file:" + work.resolve("artifacts").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric value $v") else v.toString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val wl = workloads.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", opt("work"))).toAbsolutePath
    val home = Paths.get(opt("home")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s after JVM start: $what")

    val spark = session(cores, work)
    mark("session up")
    val tracer = new Tracer(traced, s"${wl.name}-$seed")
    val sparkTrace = if (traced) {
      val t = new SparkTrace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val res = new Result
    val steal0 = steal()
    val ctx = Ctx(spark, home, work, seed, seconds, tracer, sparkTrace)
    // a set-up failure fails the run: no result line, non-zero exit
    try wl.run(ctx, res)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    finally {
      sparkTrace.foreach(_.settle())
      if (traced) tracer.write(out.resolve(s"spans-${wl.name}-$seed.jsonl"))
    }
    mark("workload done")
    val steal1 = steal()
    // how contended the host was: the share of CPU time the hypervisor
    // took from this machine while the workload ran
    println(f"""{"host_steal_share":${(steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)}%.4f}""")
    if (traced) res.endToEnd.get("unit_s").foreach { case (v, u, n) => res.layer("trace.unit_s", v, u, n) }
    if (res.attempted == 0) { res.problem("no operation was attempted"); res.attempt(false) }
    res.layer("jvm.peak_rss_mb", peakRssMb(), "MiB", 1)
    spark.stop()
    mark("session stopped")

    val metrics = if (traced) res.perLayer else res.endToEnd
    println(metrics.map { case (k, (_, _, n)) => s""""$k":$n""" }.mkString("""{"samples":{""", ",", "}}"))
    if (!res.correct) println(res.problemList.map(p => "\"" + p.replace("\"", "'") + "\"")
      .mkString("""{"problems":[""", ",", "]}"))
    val body = metrics.map { case (k, (v, u, _)) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString(",")
    println(s"""{"correct":${res.correct},"attempted":${res.attempted},"failed":${res.failed},"metrics":{$body}}""")
  }
}
