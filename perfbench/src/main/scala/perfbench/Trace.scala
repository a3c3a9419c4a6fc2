package perfbench

import scala.collection.mutable


import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are
  * `System.nanoTime` readings; `parent` is the id of the enclosing span
  * on the same thread (-1 for a root). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {

  /** Self time of each span: its duration minus the part of its
    * interval covered by its direct children (overlapping children
    * count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, t0, t1, parent, run) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Adds spans timed elsewhere (from the program's own progress reports). */
  def addAll(ss: Seq[Span]): Unit = if (enabled) synchronized { spans ++= ss }

  /** Spans as JSON lines, written once at the end of a run. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run":"${s.run}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark work attributed to a job group. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Collects jobs, tasks, executor and GC time, and shuffle and spill
  * bytes per job group, and the QueryExecution tracker's planning phases
  * with their start (attributed to a call afterwards by time). */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var started = 0
  private var ended = 0
  /** (phase start in epoch ms, phase seconds) for analysis, optimization, planning. */
  private val phases = mutable.ArrayBuffer.empty[(Long, Double)]

  private def stats(g: String): GroupStats = byGroup.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach { p =>
      phases += ((p.startTimeMs, p.durationMs / 1000.0))
    }
  }

  /** Waits until every started job has ended and the bus has gone quiet. */
  def settle(): Unit = {
    var waited = 0
    while (synchronized(started != ended) && waited < 10000) { Thread.sleep(20); waited += 20 }
    Thread.sleep(300)
  }

  /** Sum of the groups whose name starts with `prefix`. */
  def groups(prefix: String): GroupStats = synchronized {
    val out = new GroupStats
    byGroup.collect { case (k, v) if k.startsWith(prefix) => out.add(v) }
    out
  }

  /** Planning seconds of the executions that started in [fromMs, toMs]. */
  def planSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    phases.collect { case (t, s) if t >= fromMs && t <= toMs => s }.sum
  }
}

object Trace {

  /** Per-layer summary of a traced run: the share of the timed wall the
    * outermost of `spans` cover, and every layer's self time, largest
    * first. */
  def report(res: Result, spans: Seq[Span], timedWall: Double): Unit = {
    val ids = spans.map(_.id).toSet
    val roots = spans.filter(s => !ids(s.parent))
    val covered = Span.union(roots.map(s => (s.startNs, s.endNs))) / 1e9
    res.layer("trace.coverage", if (timedWall > 0) covered / timedWall else 0.0, "ratio", roots.size)
    val self = Span.selfByName(spans).toSeq.sortBy(-_._2)
    self.headOption.foreach { case (n, v) =>
      println(f"[trace] largest self-time layer: $n ($v%.3f s; spans cover $covered%.3f s of $timedWall%.3f s timed)")
    }
    self.foreach { case (n, v) => println(f"[trace] self $n%-28s $v%.3f s") }
  }
}
