package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Chaos gates for the AGGREGATING streaming faces (round-11 verdict
  * #5). The CDC/prefix-join gates prove pair MULTIPLICITY under a
  * mid-batch kill; these faces carry arithmetic state where a replayed
  * fold corrupts VALUES — a double-folded power sum changes skewness,
  * a double-folded counter changes every estimate — so the gate here
  * is stronger: after a kill between emission and batch commit plus a
  * restart over the checkpoint, the final aggregates must be
  * BIT-IDENTICAL to an unkilled control run on the same batches
  * (doubles compared via raw bits). Run under BOTH state-store
  * providers: DGIM's flatMapGroupsWithState state lives in the
  * provider itself; the FsSwap faces exercise the offset/commit-log
  * recovery the provider conf must not disturb.
  */
class StreamingChaosAggSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def withProvider(name: String)(body: String => Unit): Unit = {
    val prev = spark.conf.getOption(StateStores.ProviderKey)
    val cls = if (name == "rocksdb") StateStores.RocksDB else hdfsProvider
    StateStores.select(spark, cls)
    try body(name)
    finally prev match {
      case Some(v) => spark.conf.set(StateStores.ProviderKey, v)
      case None => spark.conf.unset(StateStores.ProviderKey)
    }
  }

  /** Rows rendered comparison-stable: doubles as raw long bits. */
  private def stable(rows: Array[Row]): Vector[Seq[Any]] =
    rows.toVector.map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        }
      }
    }.sortBy(_.mkString("|"))

  private def writeJson(dir: java.nio.file.Path, name: String,
      lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes(UTF_8))

  /** Drive one face through b0 / b1 (armed kill + restart) / b2 and
    * return the final delivery; `control = true` skips the kill so the
    * same driver doubles as the unkilled reference run. */
  private def drive(
      start: (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path,
        Array[Row] => Boolean) => org.apache.spark.sql.streaming.StreamingQuery,
      batches: Seq[Seq[String]], chaos: Boolean, tag: String): Vector[Seq[Any]] = {
    val src = Files.createTempDirectory(s"graft-chaos-$tag-src")
    val ckpt = Files.createTempDirectory(s"graft-chaos-$tag-ckpt")
    val state = Files.createTempDirectory(s"graft-chaos-$tag-state")
    @volatile var last: Array[Row] = Array.empty
    @volatile var armed = false
    val sink: Array[Row] => Boolean = rows => {
      last = rows
      val kill = armed; armed = false; kill
    }
    writeJson(src, "b0.json", batches(0))
    val q1 = start(src, ckpt, state, sink)
    try q1.processAllAvailable() finally if (chaos) () else q1.stop()
    if (chaos) {
      // arm, feed batch 1, die between emission and the batch commit
      writeJson(src, "b1.json", batches(1))
      armed = true
      try {
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
      } finally q1.stop()
      val killedDelivery = stable(last)
      // restart over the checkpoint: batch 1 REPLAYS; the re-delivery
      // must be bit-identical to the killed attempt's
      val q2 = start(src, ckpt, state, sink)
      try {
        q2.processAllAvailable()
        stable(last) shouldBe killedDelivery
        writeJson(src, "b2.json", batches(2))
        q2.processAllAvailable()
      } finally q2.stop()
    } else {
      writeJson(src, "b1.json", batches(1))
      val q2 = start(src, ckpt, state, sink)
      try {
        q2.processAllAvailable()
        writeJson(src, "b2.json", batches(2))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    stable(last)
  }

  private val rnd = new scala.util.Random(19)
  private def momRows(n: Int, key: String, lo: Long, hi: Long): Seq[String] =
    (0 until n).map { _ =>
      val x = lo + (math.abs(rnd.nextLong()) % (hi - lo + 1))
      s"""{"key":"$key","x":$x}"""
    }

  test("chaos: momentsStream kill between emission and commit + restart " +
      "yields aggregates bit-identical to an unkilled run, both providers") {
    // fixed batch content: generate ONCE, reuse for control and chaos
    val batches = Seq(
      momRows(120, "pay", 1, 90) ++ momRows(40, "flat", 42, 42),
      momRows(60, "pay", 100000, 100100) ++ momRows(10, "flat", 42, 42),
      momRows(30, "pay", 5, 25))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingScoring.momentsStream(
        spark.readStream.schema("key STRING, x LONG").json(src.toString),
        state.toString, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"mom-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"mom-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: qdigestStream kill between emission and commit + restart " +
      "yields rank bounds bit-identical to an unkilled run, both providers") {
    def qdRows(n: Int, seed: Int): Seq[String] = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => s"""{"x":${r.nextInt(60000)}}""")
    }
    val batches = Seq(qdRows(120, 1), qdRows(80, 2), qdRows(60, 3))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingScoring.qdigestStream(
        spark.readStream.schema("x LONG").json(src.toString),
        state.toString, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"qdig-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"qdig-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: bootstrapStream kill between emission and commit + restart " +
      "yields CIs bit-identical to an unkilled run, both providers") {
    // a replayed fold would double every replicate's (Σwx, Σw) — the
    // envelope stays plausible-looking (means barely move), which is
    // exactly why the bit-identity gate matters
    def bootRows(n: Int, key: String, seed: Int): Seq[String] = {
      val r = new scala.util.Random(seed)
      (0 until n).map { i =>
        s"""{"key":"$key","id":"$key-$seed-$i","x":${r.nextInt(10000)}}"""
      }
    }
    val batches = Seq(
      bootRows(100, "a", 1) ++ bootRows(40, "b", 2),
      bootRows(60, "a", 3),
      bootRows(30, "b", 4) ++ bootRows(20, "a", 5))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingScoring.bootstrapStream(
        spark.readStream.schema("key STRING, id STRING, x LONG")
          .json(src.toString),
        state.toString, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"boot-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"boot-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: cmChangeStream kill between emission and commit + restart " +
      "yields counters bit-identical to an unkilled run, both providers") {
    val terms = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    def cmRows(n: Int, seed: Int): Seq[String] = {
      val r = new scala.util.Random(seed)
      (0 until n).map { i =>
        val t = (0 until 5).map(_ => terms(r.nextInt(terms.size)))
          .mkString(" ")
        s"""{"doc_id":${seed * 1000 + i},"text":"$t"}"""
      }
    }
    val batches = Seq(cmRows(16, 1), cmRows(18, 2), cmRows(14, 3))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingScoring.cmChangeStream(
        spark.readStream.schema("doc_id LONG, text STRING")
          .json(src.toString),
        epochBatches = 2, state.toString, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"cmc-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"cmc-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: drawdownStream kill between emission and commit + restart " +
      "yields a census bit-identical to an unkilled run, both providers") {
    // a replayed fold would double-count n_events/n_underwater and can
    // inflate max_drawdown (peak from the killed attempt re-applied)
    def ddRows(keyYs: Seq[(Long, Long)], idBase: Long): Seq[String] =
      keyYs.zipWithIndex.map { case ((u, y), i) =>
        s"""{"user_id":$u,"tus":${idBase + i},"event_id":${idBase + i},"y":$y}"""
      }
    val r = new scala.util.Random(23)
    def walk(u: Long, n: Int): Seq[(Long, Long)] =
      (0 until n).map(_ => (u, 1000L + r.nextInt(500).toLong - 250L))
    val batches = Seq(
      ddRows(walk(1L, 30) ++ walk(2L, 20), 0L),
      ddRows(walk(1L, 25) ++ walk(3L, 15), 1000L),
      ddRows(walk(2L, 10) ++ walk(3L, 10), 2000L))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingDrawdown.drawdownStream(
        spark.readStream
          .schema("user_id LONG, tus LONG, event_id LONG, y LONG")
          .json(src.toString),
        ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"dd-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"dd-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: dgimStream kill between emission and commit + restart " +
      "yields window state bit-identical to an unkilled run, both providers") {
    def evRows(keyDays: Seq[(String, Long)], idBase: Long): Seq[String] =
      keyDays.zipWithIndex.map { case ((k, d), i) =>
        s"""{"key":"$k","day":$d,"event_id":${idBase + i}}"""
      }
    val batches = Seq(
      evRows(Seq.tabulate(40)(i => ("clk", (i / 4).toLong)), 0L),
      evRows(Seq.tabulate(30)(i => ("clk", 10L + i / 3)) ++
        Seq.tabulate(12)(i => ("buy", (i / 2).toLong)), 1000L),
      evRows(Seq.tabulate(20)(i => ("clk", 20L + i / 5)), 2000L))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingDgim.dgimStream(
        spark.readStream.schema("key STRING, day LONG, event_id LONG")
          .json(src.toString),
        windowDays = 7L, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"dgim-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"dgim-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  // ── the flatMapGroupsWithState faces (round-12 verdict #6): their
  //    per-key state lives IN the provider; a replayed fold would
  //    re-append values into the trailing window / EWMA history and
  //    shift every later emission ──

  /** Event rows for the per-user smoother faces: tus ascend across
    * batches per user (the faces' documented ordering contract). */
  private def evRows(keyYs: Seq[(Long, Long)], idBase: Long): Seq[String] =
    keyYs.zipWithIndex.map { case ((u, y), i) =>
      s"""{"user_id":$u,"tus":${idBase + i},"event_id":${idBase + i},"y":$y}"""
    }
  private def smootherBatches(seed: Int): Seq[Seq[String]] = {
    val r = new scala.util.Random(seed)
    def walk(u: Long, n: Int): Seq[(Long, Long)] =
      (0 until n).map(_ => (u, 500L + r.nextInt(1000).toLong))
    Seq(
      evRows(walk(1L, 12) ++ walk(2L, 8), 0L),
      evRows(walk(1L, 9) ++ walk(3L, 7), 1000L),
      evRows(walk(2L, 6) ++ walk(3L, 5) ++ walk(1L, 4), 2000L))
  }

  test("chaos: medianStream kill between emission and commit + restart " +
      "yields per-event medians bit-identical to an unkilled run, both " +
      "providers") {
    // a replayed fold re-appends the killed batch's values into the
    // ≤4-value trailing history, shifting every later window's median
    val batches = smootherBatches(29)
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingMedian.medianStream(
        spark.readStream
          .schema("user_id LONG, tus LONG, event_id LONG, y LONG")
          .json(src.toString),
        ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"med-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"med-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: ewmaStream kill between emission and commit + restart " +
      "yields per-event smoothings bit-identical to an unkilled run, " +
      "both providers") {
    val batches = smootherBatches(31)
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingEwma.ewmaStream(
        spark.readStream
          .schema("user_id LONG, tus LONG, event_id LONG, y LONG")
          .json(src.toString),
        ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"ewma-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"ewma-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: cusumStream kill between emission and commit + restart " +
      "yields detector reports bit-identical to an unkilled run, both " +
      "providers") {
    // a replayed fold re-walks the killed batch's excursion on top of
    // the already-advanced S — inflating max_cusum and alarm counts
    val ref = Map(1L -> (10L, 10000L), 2L -> (10L, 12000L),
      3L -> (10L, 9000L))
    val r = new scala.util.Random(41)
    def evJson(u: Long, base: Long, n: Int, lift: Long): Seq[String] =
      (0 until n).map { i =>
        val y = 900L + r.nextInt(300) + lift
        s"""{"user_id":$u,"tus":${base + i},"event_id":${base + i},"y":$y}"""
      }
    val batches = Seq(
      evJson(1L, 0L, 10, 0L) ++ evJson(2L, 0L, 8, 0L),
      evJson(1L, 100L, 8, 600L) ++ evJson(3L, 100L, 7, 0L), // excursion
      evJson(2L, 200L, 6, 700L) ++ evJson(1L, 200L, 5, 0L))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingCusum.cusumStream(
        spark.readStream
          .schema("user_id LONG, tus LONG, event_id LONG, y LONG")
          .json(src.toString),
        ref, slackK = 200L, thresholdH = 1500L, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"cus-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"cus-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: patternStream kill between emission and commit + restart " +
      "yields CEP stats bit-identical to an unkilled run, both providers " +
      "— including a v..p run split by the killed boundary") {
    // the run state (inRun, runLen) carries across the killed batch:
    // a double fold would double-count the split run's events
    val batches = Seq(
      Seq((1L, 0L, "v"), (1L, 1L, "c"), (2L, 0L, "x"), (2L, 1L, "v"))
        .map { case (u, t, c) =>
          s"""{"user_id":$u,"tus":$t,"event_id":$t,"code":"$c"}""" },
      // user 1's run CLOSES across the kill boundary; user 2's stays open
      Seq((1L, 10L, "p"), (2L, 10L, "c"), (3L, 10L, "v"))
        .map { case (u, t, c) =>
          s"""{"user_id":$u,"tus":$t,"event_id":$t,"code":"$c"}""" },
      Seq((2L, 20L, "p"), (3L, 20L, "p"), (1L, 20L, "v"))
        .map { case (u, t, c) =>
          s"""{"user_id":$u,"tus":$t,"event_id":$t,"code":"$c"}""" })
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingPattern.patternStream(
        spark.readStream
          .schema("user_id LONG, tus LONG, event_id LONG, code STRING")
          .json(src.toString),
        ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"pat-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"pat-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
      // the cross-kill run genuinely matched: user 2 (v in b0, c in b1,
      // p in b2) reports one 3-event match
      val u2 = control.find(_.head == 2L).get
      (u2(2), u2(3)) shouldBe ((1L, 3L)) // n_matches, longest_match
    })
  }

  test("chaos: topKStream kill between emission and commit + restart " +
      "yields leaderboards bit-identical to an unkilled run, both " +
      "providers") {
    // a replayed fold merges the killed batch's slice into a state
    // that already absorbed it — harmless only if the merge dedups by
    // event_id; the gate proves it does
    val r = new scala.util.Random(43)
    def evJson(grp: String, base: Long, n: Int): Seq[String] =
      (0 until n).map { i =>
        s"""{"grp":"$grp","event_id":${base + i},"y":${r.nextInt(100000)}}"""
      }
    val batches = Seq(
      evJson("a", 0L, 12) ++ evJson("b", 100L, 9),
      evJson("a", 200L, 8) ++ evJson("c", 300L, 7),
      evJson("b", 400L, 6) ++ evJson("a", 500L, 4))
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingTopK.topKStream(
        spark.readStream
          .schema("grp STRING, event_id LONG, y LONG")
          .json(src.toString),
        k = 3, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"topk-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"topk-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: scd2Stream kill between emission and commit + restart " +
      "yields version emissions bit-identical to an unkilled run and " +
      "never double-folds a version, both providers") {
    def chJson(rows: Seq[(Long, Int, Double, String, Long)]): Seq[String] =
      rows.map { case (k, n, b, seg, seq) =>
        s"""{"c_custkey":$k,"c_nationkey":$n,"c_acctbal":$b,""" +
          s""""c_mktsegment":"$seg","change_seq":$seq}"""
      }
    val batches = Seq(
      chJson(Seq((1L, 5, 100.0, "AUTO", 1L), (2L, 7, 50.0, "BLDG", 2L))),
      // key 1 changes twice in the killed batch: last-change-wins
      chJson(Seq((1L, 5, 120.0, "AUTO", 3L), (1L, 6, 130.0, "MACH", 4L),
        (3L, 9, 75.0, "HOUS", 5L))),
      chJson(Seq((2L, 7, 60.0, "BLDG", 6L))))
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val table = s"chaos_scd2_$prov"
      def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
          state: java.nio.file.Path, sink: Array[Row] => Boolean) =
        StreamingScd2.scd2Stream(
          spark.readStream
            .schema("c_custkey LONG, c_nationkey INT, c_acctbal DOUBLE, " +
              "c_mktsegment STRING, change_seq LONG")
            .json(src.toString),
          table, buckets = 4, ckpt.toString,
          df => { if (sink(df.collect())) sys.error("chaos kill") })
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val control =
        try drive(starter, batches, chaos = false, s"scd2-c-$prov")
        finally spark.sql(s"DROP TABLE IF EXISTS $table")
      val chaotic =
        try {
          val out = drive(starter, batches, chaos = true, s"scd2-k-$prov")
          // the killed batch folded at most ONCE: exactly one version
          // row per (key, valid_from) in the state log, and key 1's
          // batch-1 version is the last-change-wins row
          val st = spark.table(table)
            .select("c_custkey", "valid_from", "c_mktsegment").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          st.groupBy(t => (t._1, t._2)).values
            .foreach(_.length shouldBe 1)
          st.filter(t => t._1 == 1L && t._2 == 1L)
            .map(_._3).toSeq shouldBe Seq("MACH")
          out
        } finally spark.sql(s"DROP TABLE IF EXISTS $table")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
    })
  }

  test("chaos: binStream (continuous compaction bins) kill between " +
      "emission and commit + restart yields assignments bit-identical " +
      "to an unkilled run, both providers — and equal to a sequential " +
      "replay of the arrival order") {
    // a replayed fold would advance the carried byte offset twice and
    // shift every later file's bin by a whole batch of bytes
    def fRows(sizes: Seq[Long], idBase: Long): Seq[String] =
      sizes.zipWithIndex.map { case (sz, i) =>
        s"""{"file_id":${idBase + i},"size_b":$sz}"""
      }
    val r = new scala.util.Random(37)
    def sizes(n: Int): Seq[Long] =
      (0 until n).map(_ => 2000000L + r.nextInt(3000000).toLong)
    val batchSizes = Seq(sizes(9), sizes(7), sizes(8))
    val batches = batchSizes.zipWithIndex.map { case (ss, b) =>
      fRows(ss, b * 100L)
    }
    def starter(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, sink: Array[Row] => Boolean) =
      StreamingCompaction.binStream(
        spark.readStream.schema("file_id LONG, size_b LONG")
          .json(src.toString),
        binSize = 10000000L, state.toString, ckpt.toString,
        df => { if (sink(df.collect())) sys.error("chaos kill") })
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = drive(starter, batches, chaos = false, s"bin-c-$prov")
      val chaotic = drive(starter, batches, chaos = true, s"bin-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
      // the final batch's bins equal a sequential replay of the whole
      // arrival order — the carried offset survived the kill exactly
      var cum = 0L
      val expect = batchSizes.zipWithIndex.flatMap { case (ss, b) =>
        ss.zipWithIndex.map { case (sz, i) =>
          val bin = cum / 10000000L
          cum += sz
          (b * 100L + i, sz, bin, b.toLong)
        }
      }.filter(_._4 == 2L).map(t => Seq[Any](t._1, t._2, t._3, t._4))
        .sortBy(_.mkString("|")).toVector
      control shouldBe expect
    })
  }

  test("chaos: drainStream (continuous incremental compaction drain) " +
      "kill between emission and commit + restart: deliveries " +
      "bit-identical, the accumulated rewrite equals an unkilled run's " +
      "AND the batch drain from scratch, both providers") {
    // a replayed fold would either advance the carried offset twice
    // (shifting every later bin) or drain the open bin's carried rows
    // twice (duplicating file rows in a rewritten bin); the FsSwap
    // pair of (offset, open-bin census) generations prevents both
    def fRows(sizes: Seq[Long], idBase: Long): Seq[String] =
      sizes.zipWithIndex.map { case (sz, i) =>
        s"""{"file_id":${idBase + i},"size_b":$sz}"""
      }
    val r = new scala.util.Random(41)
    def sizes(n: Int): Seq[Long] =
      (0 until n).map(_ => 2000000L + r.nextInt(3000000).toLong)
    val batchSizes = Seq(sizes(9), sizes(7), sizes(8))
    val batches = batchSizes.zipWithIndex.map { case (ss, b) =>
      fRows(ss, b * 100L)
    }
    def drained(out: String): Set[(Long, Long, Long)] =
      spark.read.parquet(out)
        .select("file_id", "size_b", "bin").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSet
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      def withOut(tag: String): (java.nio.file.Path,
          (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path,
            Array[Row] => Boolean) => org.apache.spark.sql.streaming.StreamingQuery) = {
        val out = Files.createTempDirectory(s"graft-chaos-$tag-out")
        (out, (src, ckpt, state, sink) =>
          StreamingCompaction.drainStream(
            spark.readStream.schema("file_id LONG, size_b LONG")
              .json(src.toString),
            binSize = 10000000L, state.toString, ckpt.toString,
            out.toString,
            df => { if (sink(df.collect())) sys.error("chaos kill") }))
      }
      val (outC, startC) = withOut(s"drain-c-$prov")
      val control = drive(startC, batches, chaos = false, s"drain-c-$prov")
      val (outK, startK) = withOut(s"drain-k-$prov")
      val chaotic = drive(startK, batches, chaos = true, s"drain-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
      // the accumulated rewrite is kill-invariant...
      val accC = drained(outC.toString)
      withClue(s"provider $prov accumulated: ") {
        drained(outK.toString) shouldBe accC
      }
      accC should not be empty
      // ...and equals the BATCH drain over the same census from
      // scratch — the two faces share one closed-bin semantics
      import spark.implicits._
      val broot = Files
        .createTempDirectory(s"graft-chaos-drain-batch-$prov")
      val census = batchSizes.zipWithIndex.flatMap { case (ss, b) =>
        ss.zipWithIndex.map { case (sz, i) => (b * 100L + i, sz) }
      }.toDF("file_id", "size_b")
      graft.operators.IngestAnalog.compactionDrained(spark, census,
        10000000L, s"$broot/state", s"$broot/bins")
      withClue(s"provider $prov vs batch drain: ") {
        drained(s"$broot/bins") shouldBe accC
      }
    })
  }

  test("chaos: sessionStream kill between emission and commit + restart " +
      "emits the bit-identical closed-session SET as an unkilled run — " +
      "including a session MERGED across the killed batch boundary — " +
      "both providers") {
    // append-mode sessions emit on watermark advance, which Spark runs
    // as separate no-data batches — so unlike the update-mode faces the
    // per-delivery stream differs in SHAPE across a restart (a replayed
    // data batch may legally deliver zero rows, with its closures
    // arriving in the following no-data batch). The gate therefore
    // compares the CUMULATIVE emitted-row set (rows are unique in
    // append mode): a lost, duplicated, double-merged, or value-shifted
    // session after the kill+restart cannot cancel out of the set.
    def sRows(rows: Seq[(Long, Long, Long)]): Seq[String] =
      rows.map { case (u, ts, y) =>
        s"""{"user_id":$u,"ts":$ts,"y":$y}"""
      }
    val batches = Seq(
      sRows(Seq((4L, 50L, 1L), (4L, 80L, 2L), (1L, 1000L, 3L),
        (1L, 1200L, 4L), (1L, 1400L, 5L), (2L, 500L, 6L),
        (2L, 600L, 7L), (3L, 2500L, 8L))),
      // u1's open b0 session MERGES with its b1 fragment (gap
      // 2500-1400 < 1800); u9 pushes the watermark so later batches
      // close everything below ts 20000-60
      sRows(Seq((1L, 2500L, 9L), (2L, 5000L, 10L), (9L, 20000L, 11L))),
      sRows(Seq((9L, 40000L, 12L))))
    def run(chaos: Boolean, tag: String): Set[Seq[Any]] = {
      val src = Files.createTempDirectory(s"graft-chaos-$tag-src")
      val ckpt = Files.createTempDirectory(s"graft-chaos-$tag-ckpt")
      val acc = scala.collection.mutable.Set.empty[Seq[Any]]
      @volatile var armed = false
      def start() = StreamingSessions.sessionStream(
        spark.readStream.schema("user_id LONG, ts LONG, y LONG")
          .json(src.toString),
        ckpt.toString,
        df => {
          acc ++= stable(df.collect())
          val kill = armed; armed = false
          if (kill) sys.error("chaos kill")
        })
      writeJson(src, "b0.json", batches(0))
      val q1 = start()
      try q1.processAllAvailable() finally if (chaos) () else q1.stop()
      if (chaos) {
        writeJson(src, "b1.json", batches(1))
        armed = true
        try {
          intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            q1.processAllAvailable()
          }
        } finally q1.stop()
      } else writeJson(src, "b1.json", batches(1))
      val q2 = start()
      try {
        q2.processAllAvailable()
        writeJson(src, "b2.json", batches(2))
        q2.processAllAvailable()
      } finally q2.stop()
      acc.toSet
    }
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      val control = run(chaos = false, s"sess-c-$prov")
      val chaotic = run(chaos = true, s"sess-k-$prov")
      withClue(s"provider $prov: ") { chaotic shouldBe control }
      control should not be empty
      // the cross-batch merge is IN the compared set: u1's merged
      // session spans its b0 fragment (1000) through its b1 one (2500)
      val u1 = control.filter(_.head == 1L)
      u1 should have size 1
      u1.head(1) shouldBe 1000L // session_start
      u1.head(3) shouldBe 4L // n_events: 3 from b0 + 1 from b1
    })
  }

  test("chaos: shardStream (continuous tar-shard maintenance) kill " +
      "between emission and commit + restart: deliveries bit-identical, " +
      "the accumulated shard FILES byte-identical to an unkilled run's " +
      "AND to the batch shardDrain from scratch, both providers") {
    // a replayed fold would advance the carried byte offset twice
    // (shifting every later shard boundary) or fold the open shard's
    // carried members twice (duplicating them in a finalized shard);
    // the FsSwap pair of (offset, open-shard census) generations
    // prevents both — and because the open shard's BYTES live in the
    // shard file itself (state carries only the census), the restart
    // path also proves the read-back-and-refilter recovery
    def payload(id: Long, kind: String): Array[Byte] = {
      val n = ((id * 11 + kind.length * 17) % 300 + 60).toInt
      Array.tabulate(n)(j => ((id + j * 37 + kind(0)) % 251).toByte)
    }
    val b64 = java.util.Base64.getEncoder
    def dRows(ids: Seq[Long]): Seq[String] = ids.map { id =>
      def f(k: String) = "\"" + k + "\":\"" +
        b64.encodeToString(payload(id, k)) + "\""
      s"""{"doc_id":$id,${f("bmp")},${f("gif")},${f("png")},${f("wav")}}"""
    }
    val batches = Seq(dRows(0L until 9L), dRows(9L until 16L),
      dRows(16L until 24L))
    val targetB = 16384L
    def shardBytes(out: String): Map[String, Seq[Byte]] = {
      val d = new java.io.File(out)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".tar"))
        .map(f => f.getName ->
          Files.readAllBytes(f.toPath).toSeq).toMap
    }
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      def withOut(tag: String): (java.nio.file.Path,
          (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path,
            Array[Row] => Boolean) => org.apache.spark.sql.streaming.StreamingQuery) = {
        val out = Files.createTempDirectory(s"graft-chaos-$tag-out")
        (out, (src, ckpt, state, sink) =>
          StreamingShards.shardStream(
            spark.readStream.schema(
              "doc_id LONG, bmp BINARY, gif BINARY, png BINARY, wav BINARY")
              .json(src.toString),
            targetB, state.toString, ckpt.toString, out.toString,
            df => { if (sink(df.collect())) sys.error("chaos kill") }))
      }
      val (outC, startC) = withOut(s"shard-c-$prov")
      val control = drive(startC, batches, chaos = false, s"shard-c-$prov")
      val (outK, startK) = withOut(s"shard-k-$prov")
      val chaotic = drive(startK, batches, chaos = true, s"shard-k-$prov")
      withClue(s"provider $prov deliveries: ") { chaotic shouldBe control }
      control should not be empty
      // the accumulated shard FILES are kill-invariant byte for byte
      val accC = shardBytes(outC.toString)
      accC.keySet should not be empty
      withClue(s"provider $prov accumulated files: ") {
        shardBytes(outK.toString) shouldBe accC
      }
      // ...and equal the BATCH drain (flushOpen) over the same member
      // census from scratch — streaming and nightly maintenance share
      // one shard semantics, down to the bytes
      import spark.implicits._
      val broot = Files.createTempDirectory(s"graft-chaos-shard-batch-$prov")
      val members = (0L until 24L).map { id =>
        val b = payload(id, "bmp"); val g = payload(id, "gif")
        val p = payload(id, "png"); val w = payload(id, "wav")
        val sz = Seq(b, g, p, w)
          .map(x => graft.operators.Tar.memberLength(x.length)).sum
        (id, b, g, p, w, sz)
      }.toDF("doc_id", "bmp", "gif", "png", "wav", "size_b")
      graft.operators.Multimodal.shardDrain(spark, members, targetB,
        s"$broot/state", s"$broot/shards", flushOpen = true)
      withClue(s"provider $prov vs batch drain: ") {
        shardBytes(s"$broot/shards") shouldBe accC
      }
    })
  }

  test("chaos: appendStream (continuous IVF+PQ index append) kill + " +
      "restart: deliveries bit-identical, the accumulated per-batch " +
      "cell FILES byte-identical to an unkilled run's, and the " +
      "accumulated extension row-identical to the batch " +
      "sim_ivfpq_append encode from scratch, both providers") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the SAME deterministic arriving vectors the batch face encodes,
    // split across three micro-batches; doubles ride JSON as shortest
    // round-trip strings, so the parsed bits are identical
    val nv = graft.operators.Similarity.midpointBatch(spark, sf)
      .orderBy($"vec_id").collect()
    nv.length should be >= 8
    def dRows(rows: Seq[Row]): Seq[String] = rows.map { r =>
      val id = r.getLong(0)
      val emb = r.getSeq[Double](1)
      s"""{"vec_id":$id,"emb":[${emb.mkString(",")}],"label":${id % 7}}"""
    }
    val batches = Seq(dRows(nv.take(4).toSeq), dRows(nv.slice(4, 7).toSeq),
      dRows(nv.drop(7).toSeq))
    def cellFiles(out: String): Map[String, Seq[Byte]] = {
      val root = new java.io.File(out, "cells.parquet")
      if (!root.exists()) Map.empty
      else root.listFiles().filter(_.isDirectory).flatMap { cd =>
        cd.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          s"${cd.getName}/${f.getName}" ->
            Files.readAllBytes(f.toPath).toSeq
        }
      }.toMap
    }
    Seq("hdfs", "rocksdb").foreach(withProvider(_) { prov =>
      def withOut(tag: String): (java.nio.file.Path,
          (java.nio.file.Path, java.nio.file.Path, java.nio.file.Path,
            Array[Row] => Boolean) => org.apache.spark.sql.streaming.StreamingQuery) = {
        val out = Files.createTempDirectory(s"graft-chaos-$tag-out")
        (out, (src, ckpt, state, sink) =>
          StreamingIndexAppend.appendStream(
            spark.readStream.schema(
              "vec_id LONG, emb ARRAY<DOUBLE>, label LONG")
              .json(src.toString),
            sf, state.toString, ckpt.toString, out.toString,
            df => { if (sink(df.collect())) sys.error("chaos kill") }))
      }
      // keep each driver's state dir so the committed-watermark read
      // face can be pointed at it after the drive
      var stateC: java.nio.file.Path = null
      val (outC, startC0) = withOut(s"idxapp-c-$prov")
      val startC: (java.nio.file.Path, java.nio.file.Path,
          java.nio.file.Path, Array[Row] => Boolean) =>
          org.apache.spark.sql.streaming.StreamingQuery =
        (src, ckpt, state, sink) => { stateC = state
          startC0(src, ckpt, state, sink) }
      val control = drive(startC, batches, chaos = false, s"idxapp-c-$prov")
      val (outK, startK) = withOut(s"idxapp-k-$prov")
      val chaotic = drive(startK, batches, chaos = true, s"idxapp-k-$prov")
      withClue(s"provider $prov deliveries: ") { chaotic shouldBe control }
      control.nonEmpty shouldBe true
      val accC = cellFiles(outC.toString)
      accC.keySet.nonEmpty shouldBe true
      withClue(s"provider $prov accumulated files: ") {
        cellFiles(outK.toString) shouldBe accC
      }
      // the accumulated extension — read through the COMMITTED view
      // (the documented serving read face: a torn batch must be
      // invisible) — equals the batch face's encode of the same
      // vectors from scratch: the index lifecycle's append step has
      // ONE semantics, batch or continuous
      val ext = StreamingIndexAppend.committedExtension(spark,
        stateC.toString, outC.toString)
      val extLong = ext.select($"vec_id",
          $"centroid_id".cast("long").as("centroid_id"),
          posexplode($"codes").as(Seq("sub", "code")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
          r.getAs[Number](3).longValue()))
        .toSet
      val batchFace = graft.SparkEntry.queries("sim_ivfpq_append")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
          r.getAs[Number](2).longValue(), r.getAs[Number](3).longValue()))
        .toSet
      withClue(s"provider $prov extension vs batch face: ") {
        extLong shouldBe batchFace
      }
      // the stored attribute rode along intact
      ext.select($"vec_id", $"label").collect()
        .foreach(r => r.getLong(1) shouldBe r.getLong(0) % 7)
      // the committed-watermark filter actually FILTERS (review pass
      // 2: a no-op filter would pass the equality above unchanged):
      // plant a beyond-watermark file — the torn-batch state a crash
      // between installs and commit leaves — and the committed view
      // must exclude it while a plain read serves it
      val committedCount = ext.count()
      val cellDir = new java.io.File(s"${outC.toString}/cells.parquet")
        .listFiles().filter(_.isDirectory)
        .find(_.getName.startsWith("centroid_id=")).get
      val donor = cellDir.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val torn = new java.io.File(cellDir, "batch-99999.parquet")
      Files.copy(donor.toPath, torn.toPath)
      try {
        val plain = spark.read
          .parquet(s"${outC.toString}/cells.parquet").count()
        plain should be > committedCount
        withClue(s"provider $prov torn-batch visibility: ") {
          StreamingIndexAppend.committedExtension(spark,
            stateC.toString, outC.toString).count() shouldBe committedCount
        }
      } finally { torn.delete(); () }
      // fresh deployment: no commit yet, possibly nothing on disk —
      // the read face returns the EMPTY extension instead of crashing
      val freshState = Files.createTempDirectory(s"graft-fresh-$prov")
      val freshOut = Files.createTempDirectory(s"graft-freshout-$prov")
      val fresh = StreamingIndexAppend.committedExtension(spark,
        freshState.toString, freshOut.toString)
      fresh.columns.toSeq shouldBe
        Seq("vec_id", "codes", "label", "centroid_id")
      fresh.count() shouldBe 0L
    })
  }

  test("shardStream validates its offset fold's precondition: a batch " +
      "whose min doc_id is not strictly above the committed max fails " +
      "loudly (as does an internal duplicate) instead of silently " +
      "shifting every later bin boundary") {
    def payload(id: Long): Array[Byte] =
      Array.tabulate(80)(j => ((id + j * 13) % 251).toByte)
    val b64 = java.util.Base64.getEncoder
    def dRows(ids: Seq[Long]): Seq[String] = ids.map { id =>
      def f(k: String) = "\"" + k + "\":\"" +
        b64.encodeToString(payload(id)) + "\""
      s"""{"doc_id":$id,${f("bmp")},${f("gif")},${f("png")},${f("wav")}}"""
    }
    def start(src: java.nio.file.Path, ckpt: java.nio.file.Path,
        state: java.nio.file.Path, out: java.nio.file.Path) =
      StreamingShards.shardStream(
        spark.readStream.schema(
          "doc_id LONG, bmp BINARY, gif BINARY, png BINARY, wav BINARY")
          .json(src.toString),
        16384L, state.toString, ckpt.toString, out.toString, _ => ())
    // cross-batch regression: b0 commits max doc_id 8, b1 re-presents 5
    locally {
      val src = Files.createTempDirectory("graft-shardguard-src")
      val ckpt = Files.createTempDirectory("graft-shardguard-ckpt")
      val state = Files.createTempDirectory("graft-shardguard-state")
      val out = Files.createTempDirectory("graft-shardguard-out")
      val q = start(src, ckpt, state, out)
      try {
        writeJson(src, "b0.json", dRows(0L until 9L))
        q.processAllAvailable()
        writeJson(src, "b1.json", dRows(5L until 11L))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        e.getMessage should include("not strictly above the committed max")
      } finally q.stop()
    }
    // within-batch duplicate
    locally {
      val src = Files.createTempDirectory("graft-sharddup-src")
      val ckpt = Files.createTempDirectory("graft-sharddup-ckpt")
      val state = Files.createTempDirectory("graft-sharddup-state")
      val out = Files.createTempDirectory("graft-sharddup-out")
      val q = start(src, ckpt, state, out)
      try {
        writeJson(src, "b0.json", dRows(Seq(0L, 1L, 2L, 2L, 3L)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        e.getMessage should include("duplicate doc_ids")
      } finally q.stop()
    }
  }
}
