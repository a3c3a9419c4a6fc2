package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** E2E gates for the continuous heavy-hitters stream: the mergeable
  * summary accumulates across micro-batches and restarts, the MG
  * containment guarantee holds against the exact frequencies of
  * everything streamed so far, and counts are lower bounds within the
  * N/(cap+1) error budget.
  */
class StreamingScoringSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def toks(t: String): Seq[String] =
    t.trim.toLowerCase.split("[ \\t\\n\\r\\f]+").filter(_.nonEmpty).toSeq

  test("continuous heavy hitters: state merges across batches and restarts, " +
      "containment and error bounds hold") {
    val src = java.nio.file.Files.createTempDirectory("graft-shh-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shh-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-shh-state")
    val cap = 4

    def writeDocs(name: String, texts: Seq[String]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        texts.zipWithIndex.map { case (t, i) =>
          s"""{"doc_id":$i,"text":"$t"}""" }.mkString("\n").getBytes(UTF_8))

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.heavyHittersStream(
      spark.readStream.schema("doc_id LONG, text STRING").json(src.toString),
      state.toString, cap, ckpt.toString,
      sink = df => emitted :+= df.collect())

    // a 200-term cold tail forces constant eviction at cap=4
    val b0 = Seq(Seq.fill(60)("hot").mkString(" "),
      (0 until 100).map(i => s"cold$i").mkString(" "))
    val b1 = Seq(Seq.fill(50)("warm").mkString(" "),
      (100 until 200).map(i => s"cold$i").mkString(" "),
      Seq.fill(20)("hot").mkString(" "))
    val all = scala.collection.mutable.Buffer.empty[String]

    def checkAgainst(batchRows: Array[Row]): Unit = {
      val truth = all.flatMap(toks).groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val n = truth.values.sum
      batchRows.foreach(_.getLong(2) shouldBe n) // n_total tracks the stream
      val summary = batchRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      summary.size should be <= cap
      // containment: every true heavy hitter is in the summary
      truth.foreach { case (t, c) =>
        if (c.toDouble > n.toDouble / (cap + 1))
          withClue(s"heavy term $t (c=$c, n=$n) missing: ") {
            summary.keySet should contain(t)
          }
      }
      // counts are lower bounds within the merge-preserved error budget
      summary.foreach { case (t, lb) =>
        val c = truth.getOrElse(t, 0L)
        withClue(s"term $t lb=$lb true=$c n=$n: ") {
          lb should be <= c
          (c - lb).toDouble should be <= n.toDouble / (cap + 1)
        }
      }
    }

    writeDocs("b0.json", b0); all ++= b0
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // restart boundary
    checkAgainst(emitted.last)
    emitted.last.map(_.getString(0)) should contain("hot")

    // the restarted query must resume from the persisted summary (not
    // re-fold b0: offsets recovered) and fold only the new batch
    writeDocs("b1.json", b1); all ++= b1
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    checkAgainst(emitted.last)
    val last = emitted.last.map(r => r.getString(0) -> r.getLong(1)).toMap
    last.keySet should contain allOf ("hot", "warm")
    // the two-pass exact recount over the candidates equals the true
    // heavy-hitter set (the batch query's design, fed by this state)
    val truth = all.flatMap(toks).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val n = truth.values.sum
    val exactHH = truth.filter { case (_, c) => c * (cap + 1) > n }.keySet
    last.keySet.filter(t => truth(t) * (cap + 1) > n) shouldBe exactHH
  }

  test("heavy hitters: a fresh checkpoint over a surviving stateDir fails " +
      "instead of re-emitting the stale summary") {
    val src = java.nio.file.Files.createTempDirectory("graft-shh-reset-src")
    val state = java.nio.file.Files.createTempDirectory("graft-shh-reset-state")
    @volatile var emitted = 0
    def start(ckpt: java.nio.file.Path) = StreamingScoring.heavyHittersStream(
      spark.readStream.schema("doc_id LONG, text STRING").json(src.toString),
      state.toString, 4, ckpt.toString, sink = df => { df.collect(); emitted += 1 })
    def writeDoc(name: String, text: String): Unit =
      java.nio.file.Files.write(src.resolve(name),
        s"""{"doc_id":0,"text":"$text"}""".getBytes(UTF_8))

    // two folded batches: the state dir commits batch id 1
    val q1 = start(java.nio.file.Files.createTempDirectory("graft-shh-reset-ck1"))
    try {
      writeDoc("b0.json", "hot hot cold")
      q1.processAllAvailable()
      writeDoc("b1.json", "hot warm")
      q1.processAllAvailable()
    } finally q1.stop()
    emitted shouldBe 2

    // a fresh checkpoint restarts batch ids at 0, below the committed 1
    val q2 = start(java.nio.file.Files.createTempDirectory("graft-shh-reset-ck2"))
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      e.getMessage should include(
        "StreamingScoring.heavyHittersStream: batch 0 below committed 1")
    } finally q2.stop()
    emitted shouldBe 2 // nothing stale reached the sink
  }

  test("continuous count-min: counters fold exactly across batches and restarts, " +
      "estimates never undercount") {
    val src = java.nio.file.Files.createTempDirectory("graft-scm-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scm-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-scm-state")

    def writeDocs(name: String, texts: Seq[String]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        texts.zipWithIndex.map { case (t, i) =>
          s"""{"doc_id":$i,"text":"$t"}""" }.mkString("\n").getBytes(UTF_8))

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.countMinStream(
      spark.readStream.schema("doc_id LONG, text STRING").json(src.toString),
      state.toString, ckpt.toString,
      sink = df => emitted :+= df.collect())

    val hashes = graft.operators.Scoring.CmHashes
    def fp(t: String): Long =
      graft.functions.RollingHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 31L)
    def cmCol(f: Long, a: Long, b: Long): Long = (a * f + b) % 1000000007L % 64L
    def directCounters(terms: Seq[String]): Map[(Int, Long), Long] =
      terms.flatMap { t =>
        hashes.zipWithIndex.map { case ((a, b), r) => (r, cmCol(fp(t), a, b)) }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap

    val b0 = Seq(Seq.fill(40)("hot").mkString(" "),
      (0 until 50).map(i => s"cold$i").mkString(" "))
    val b1 = Seq(Seq.fill(30)("warm").mkString(" "),
      (50 until 120).map(i => s"cold$i").mkString(" "))
    val all = scala.collection.mutable.Buffer.empty[String]

    def checkAgainst(rows: Array[Row]): Unit = {
      val streamed = all.flatMap(toks).toSeq
      val expected = directCounters(streamed)
      val got = rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      got shouldBe expected // counter-sum merge is EXACT, not approximate
      rows.foreach(_.getLong(3) shouldBe streamed.size.toLong)
      // point estimates off the streamed state never undercount
      val truth = streamed.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (t, c) =>
        val est = hashes.zipWithIndex
          .map { case ((a, b), r) => got.getOrElse((r, cmCol(fp(t), a, b)), 0L) }.min
        withClue(s"term $t:") { est should be >= c }
      }
    }

    writeDocs("b0.json", b0); all ++= b0
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop() // restart boundary
    checkAgainst(emitted.last)

    // restart: resume from persisted counters, fold only the new batch
    writeDocs("b1.json", b1); all ++= b1
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    checkAgainst(emitted.last)
  }

  test("continuous heavy-change: the sketch pair rotates on epoch " +
      "boundaries, folds exactly, survives restart, and per-side " +
      "estimates keep the CM bound") {
    val src = java.nio.file.Files.createTempDirectory("graft-schg-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-schg-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-schg-state")

    var nextId = 0
    def writeDocs(name: String, texts: Seq[String]): Unit = {
      java.nio.file.Files.write(src.resolve(name),
        texts.zipWithIndex.map { case (t, i) =>
          s"""{"doc_id":${nextId + i},"text":"$t"}""" }
          .mkString("\n").getBytes(UTF_8))
      nextId += texts.size
    }

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.cmChangeStream(
      spark.readStream.schema("doc_id LONG, text STRING").json(src.toString),
      epochBatches = 2, state.toString, ckpt.toString,
      sink = df => emitted :+= df.collect())

    val hashes = graft.operators.Scoring.CmHashes
    def fp(t: String): Long =
      graft.functions.RollingHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 31L)
    def cmCol(f: Long, a: Long, b: Long): Long = (a * f + b) % 1000000007L % 64L
    def directCounters(terms: Seq[String]): Map[(Int, Long), Long] =
      terms.flatMap { t =>
        hashes.zipWithIndex.map { case ((a, b), r) => (r, cmCol(fp(t), a, b)) }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap

    def curOf(rows: Array[Row]): Map[(Int, Long), Long] =
      rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .filter(_._2 != 0L).toMap
    def prevOf(rows: Array[Row]): Map[(Int, Long), Long] =
      rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(3))
        .filter(_._2 != 0L).toMap
    def epochOf(rows: Array[Row]): Long = rows.head.getLong(4)

    val b0 = Seq(Seq.fill(20)("alpha").mkString(" "))
    val b1 = Seq(Seq.fill(10)("beta").mkString(" "))
    val b2 = Seq(Seq.fill(5)("alpha").mkString(" "),
      (0 until 30).map(i => s"noise$i").mkString(" "))
    val b3 = Seq(Seq.fill(7)("gamma").mkString(" "))

    // batch 0: first fold of epoch 0 — no rotation yet
    writeDocs("b0.json", b0)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    curOf(emitted.last) shouldBe directCounters(b0.flatMap(toks))
    prevOf(emitted.last) shouldBe Map.empty
    epochOf(emitted.last) shouldBe 0L

    // batch 1: second fold completes epoch 0 — rotation freezes the
    // epoch's sketch into prev and clears cur
    writeDocs("b1.json", b1)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    curOf(emitted.last) shouldBe Map.empty
    prevOf(emitted.last) shouldBe directCounters((b0 ++ b1).flatMap(toks))
    epochOf(emitted.last) shouldBe 1L

    // batch 2 (after a restart boundary): fresh epoch accumulates
    // against the frozen snapshot — the change probe's two sides
    writeDocs("b2.json", b2)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val rows2 = emitted.last
    curOf(rows2) shouldBe directCounters(b2.flatMap(toks))
    prevOf(rows2) shouldBe directCounters((b0 ++ b1).flatMap(toks))
    epochOf(rows2) shouldBe 1L
    // per-side CM bound through the coalesced-zero probe (the batch
    // query's exact discipline), for every term either epoch saw
    val curTruth = b2.flatMap(toks).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val prevTruth = (b0 ++ b1).flatMap(toks).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val cur2 = curOf(rows2); val prev2 = prevOf(rows2)
    (curTruth.keySet ++ prevTruth.keySet).foreach { t =>
      val eCur = hashes.zipWithIndex.map { case ((a, b), r) =>
        cur2.getOrElse((r, cmCol(fp(t), a, b)), 0L) }.min
      val ePrev = hashes.zipWithIndex.map { case ((a, b), r) =>
        prev2.getOrElse((r, cmCol(fp(t), a, b)), 0L) }.min
      withClue(s"term $t:") {
        eCur should be >= curTruth.getOrElse(t, 0L)
        ePrev should be >= prevTruth.getOrElse(t, 0L)
      }
    }
    // "alpha" cooled (20 -> 5): its estimated delta must be negative
    // (est_cur can overcount by collisions but stays bounded by the
    // small current epoch)
    val dAlpha = hashes.zipWithIndex.map { case ((a, b), r) =>
      cur2.getOrElse((r, cmCol(fp("alpha"), a, b)), 0L) }.min -
      hashes.zipWithIndex.map { case ((a, b), r) =>
        prev2.getOrElse((r, cmCol(fp("alpha"), a, b)), 0L) }.min
    dAlpha should be < 0L

    // batch 3: rotation again — epoch 2, prev = epoch-1 sketch only
    writeDocs("b3.json", b3)
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    curOf(emitted.last) shouldBe Map.empty
    prevOf(emitted.last) shouldBe directCounters((b2 ++ b3).flatMap(toks))
    epochOf(emitted.last) shouldBe 2L
  }

  test("continuous moments: per-key skew/kurtosis fold exactly across " +
      "batches and restarts via BigInt power sums") {
    val src = java.nio.file.Files.createTempDirectory("graft-smo-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smo-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-smo-state")

    def writeRows(name: String, rows: Seq[(String, Long)]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        rows.map { case (k, x) => s"""{"key":"$k","x":$x}""" }
          .mkString("\n").getBytes(UTF_8))

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.momentsStream(
      spark.readStream.schema("key STRING, x LONG").json(src.toString),
      state.toString, ckpt.toString,
      sink = df => emitted :+= df.collect())

    // the same BigInt -> double chain the stream (and evt_moments) runs
    def direct(xs: Seq[Long]): (Long, Double, Double) = {
      val n = BigInt(xs.length)
      val s1 = xs.map(BigInt(_)).sum
      val s2 = xs.map(x => BigInt(x) * x).sum
      val s3 = xs.map(x => BigInt(x) * x * x).sum
      val s4 = xs.map(x => BigInt(x) * x * x * x).sum
      val m2 = n * s2 - s1 * s1
      val m3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      val m4 = n * n * n * s4 - 4 * n * n * s1 * s3 +
        6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      if (m2 == 0) (xs.length.toLong, 0.0, 0.0)
      else (xs.length.toLong,
        m3.toDouble / (m2.toDouble * math.sqrt(m2.toDouble)),
        m4.toDouble / (m2.toDouble * m2.toDouble) - 3.0)
    }

    val rnd = new scala.util.Random(7)
    // right-skewed "pay" stream vs constant "flat" stream (m2 = 0 path)
    val b0 = (0 until 200).map(_ =>
      ("pay", (math.abs(rnd.nextLong()) % 100L) + 1L)) ++
      (0 until 50).map(_ => ("flat", 42L))
    val b1 = (0 until 100).map(_ => ("pay", 100000L)) ++
      (0 until 30).map(_ => ("flat", 42L))
    val all = scala.collection.mutable.Buffer.empty[(String, Long)]

    def checkAgainst(rows: Array[Row]): Unit = {
      val byKey = all.groupBy(_._1)
      val got = rows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      got.keySet shouldBe byKey.keySet
      byKey.foreach { case (k, kv) =>
        withClue(s"key $k: ") { got(k) shouldBe direct(kv.map(_._2).toSeq) }
      }
    }

    writeRows("b0.json", b0); all ++= b0
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // restart boundary
    checkAgainst(emitted.last)
    emitted.last.find(_.getString(0) == "flat").get
      .getDouble(2) shouldBe 0.0 // the zero-variance degenerate path
    val skew0 = emitted.last.find(_.getString(0) == "pay").get.getDouble(2)

    // resumed query folds only the new batch onto the persisted sums
    writeRows("b1.json", b1); all ++= b1
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    checkAgainst(emitted.last)
    // the late heavy mass genuinely moved the shape: near-uniform b0
    // (|g1| small) gains a far-right mode -> clearly right-skewed now
    val skew1 = emitted.last.find(_.getString(0) == "pay").get.getDouble(2)
    math.abs(skew0) should be < 0.3
    skew1 should be > skew0 + 0.3
  }

  test("continuous quantile digest: probe bounds fold exactly across " +
      "batches and restarts, equal to a direct recompute; within holds") {
    val src = java.nio.file.Files.createTempDirectory("graft-sqd-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqd-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-sqd-state")

    def writeRows(name: String, xs: Seq[Long]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        xs.map(x => s"""{"x":$x}""").mkString("\n").getBytes(UTF_8))

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.qdigestStream(
      spark.readStream.schema("x LONG").json(src.toString),
      state.toString, ckpt.toString,
      sink = df => emitted :+= df.collect())

    def check(xs: Seq[Long]): Unit = {
      val vs = xs.map(x => math.max(0L, math.min(65535L, x)))
      val l12 = Array.tabulate(16)(i =>
        vs.count(v => v / 4096 == i).toLong)
      val total = vs.length.toLong
      val thr = (total + 63) / 64
      val rows = emitted.last.sortBy(_.getLong(0))
      rows.length shouldBe 8
      (1 to 8).zip(rows).foreach { case (j, r) =>
        val heavy = (0 until j).filter(i => l12(i) >= thr)
        val lo = heavy.map(l12(_)).sum
        val hi = lo + (j - heavy.length) * math.max(0L, thr - 1)
        val exact = (0 until j).map(l12(_)).sum
        withClue(s"probe $j: ") {
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getBoolean(7)) shouldBe
            ((j * 4096L, total, thr, lo, hi, exact, true))
        }
      }
    }

    val rnd = new scala.util.Random(13)
    val b0 = (0 until 400).map(_ => rnd.nextInt(50000).toLong)
    val all = scala.collection.mutable.Buffer.empty[Long]
    writeRows("b0.json", b0); all ++= b0
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // restart boundary
    check(all.toSeq)

    // skewed second batch shifts the heavy set; fold stays exact
    val b1 = (0 until 300).map(_ => 3000L + rnd.nextInt(2000))
    writeRows("b1.json", b1); all ++= b1
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    check(all.toSeq)
  }

  test("continuous bootstrap: per-key CI folds exactly across batches " +
      "and restarts, equal to a JDK-md5 recompute over everything so far") {
    val src = java.nio.file.Files.createTempDirectory("graft-sbt-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sbt-ckpt")
    val state = java.nio.file.Files.createTempDirectory("graft-sbt-state")

    def writeRows(name: String, rows: Seq[(String, String, Long)]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        rows.map { case (k, id, x) =>
          s"""{"key":"$k","id":"$id","x":$x}""" }
          .mkString("\n").getBytes(UTF_8))

    @volatile var emitted = Vector.empty[Array[Row]]
    def start() = StreamingScoring.bootstrapStream(
      spark.readStream.schema("key STRING, id STRING, x LONG")
        .json(src.toString),
      state.toString, ckpt.toString,
      sink = df => emitted :+= df.collect())

    // the weight chain the stream runs, from the JDK digest directly
    val mdt = java.security.MessageDigest.getInstance("MD5")
    def weights(id: String): IndexedSeq[Int] = {
      val hex = mdt.digest(id.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (0 until 16).map { b =>
        val u8 = Integer.parseInt(hex.substring(2 * b, 2 * b + 2), 16)
        if (u8 < 94) 0 else if (u8 < 188) 1 else if (u8 < 235) 2
        else if (u8 < 251) 3 else if (u8 < 255) 4 else 5
      }
    }
    def direct(rows: Seq[(String, Long)]): (Long, Double, Double, Double, Long) = {
      val n = rows.length.toLong
      val mean = rows.map(_._2).sum.toDouble / n.toDouble
      val means = (0 until 16).flatMap { b =>
        val (sb, nb) = rows.foldLeft((0L, 0L)) { case ((s, c), (id, x)) =>
          val w = weights(id)(b); (s + w * x, c + w)
        }
        if (nb > 0) Some(sb.toDouble / nb.toDouble) else None
      }
      (n, mean, means.min, means.max, means.length.toLong)
    }

    val rnd = new scala.util.Random(11)
    def gen(k: String, tag: String, n: Int): Seq[(String, String, Long)] =
      (0 until n).map(i => (k, s"$k-$tag-$i", rnd.nextInt(100000).toLong))
    val all = scala.collection.mutable.Buffer.empty[(String, String, Long)]

    def check(rows: Array[Row]): Unit = {
      val byKey = all.groupBy(_._1)
      rows.map(_.getString(0)).toSet shouldBe byKey.keySet
      rows.foreach { r =>
        val k = r.getString(0)
        val exp = direct(byKey(k).map(t => (t._2, t._3)).toSeq)
        withClue(s"key $k: ") {
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5)) shouldBe exp
        }
      }
    }

    val b0 = gen("a", "b0", 150) ++ gen("b", "b0", 60)
    writeRows("b0.json", b0); all ++= b0
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // restart boundary
    check(emitted.last)
    // the envelope genuinely brackets: lo < mean < hi at these sizes
    emitted.last.foreach { r =>
      r.getDouble(3) should be < r.getDouble(2)
      r.getDouble(4) should be > r.getDouble(2)
    }

    // resumed query folds only the new batch onto the persisted sums
    val b1 = gen("a", "b1", 80) ++ gen("c", "b1", 40)
    writeRows("b1.json", b1); all ++= b1
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    check(emitted.last)
  }
}
