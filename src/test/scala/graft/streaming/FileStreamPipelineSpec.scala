package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{TestSpark, Tuning}

/** Streaming tail over chunked uploads: chunks of a logical file arrive
  * across micro-batches; `flatMapGroupsWithState` stitches them into
  * contiguous offsets persisted in the state store.
  */
class FileStreamPipelineSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  test("chunk offsets accumulate across micro-batches via state store") {
    val dir = Files.createTempDirectory("graft-stream")
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def write(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(UTF_8), StandardOpenOption.CREATE)

    val q = FileStreamPipeline.changeRecords(spark, s"$dir/*", "chunks")
      .writeStream
      .format("memory")
      .queryName("chunks_out")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .start()
    try {
      write("fileA.part0", "hello")
      write("fileB.part0", "xy")
      q.processAllAvailable()
      write("fileA.part1", " world")
      q.processAllAvailable()
      write("fileA.part2", "!")
      write("fileB.part1", "z")
      q.processAllAvailable()

      val rows = spark.table("chunks_out").collect()
        .map(r => (r.getAs[String]("path"), r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        .sortBy(r => (r._1, r._2))
      val (aRows, bRows) = rows.partition(_._1.endsWith("fileA"))
      aRows.map(r => (r._2, r._3)) shouldBe Seq((0L, "hello"), (5L, " world"), (11L, "!"))
      bRows.map(r => (r._2, r._3)) shouldBe Seq((0L, "xy"), (2L, "z"))
      // reconstructing the logical file from deltas yields the full content
      aRows.map(_._3).mkString shouldBe "hello world!"
    } finally q.stop()
  }

  test("an AvailableNow drain above the parallel-listing threshold lists " +
      "with Tuning's fan-out and stitches every logical file") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-drain")
    val ckpt = Files.createTempDirectory("graft-drain-ckpt")
    // 8 logical files x 5 parts = 40 root paths, above the 32-path
    // threshold where InMemoryFileIndex lists with a Spark job
    val parts = for (f <- 0 until 8; i <- 0 until 5) yield (f, i, s"f$f-p$i" * (i + 1))
    parts.foreach { case (f, i, body) =>
      Files.write(dir.resolve(s"log$f.part$i"), body.getBytes(UTF_8))
    }

    val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    val listingTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val sentinel = s"sentinel-$dir"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.startsWith("Listing leaf files") && desc.contains(dir.toString))
          listingTasks.add(e.stageInfos.map(_.numTasks).sum)
        if (desc == sentinel) sentinelSeen.countDown()
      }
    }
    val old = spark.conf.getOption(key)
    spark.conf.set(key, Tuning.rules(4).toMap.apply(key))
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = FileStreamPipeline.changeRecords(spark, s"$dir/*", "drain")
        .writeStream.format("memory").queryName("drain_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      // listener events arrive in order: once the sentinel job is seen,
      // every listing job of the drain has been seen too
      spark.sparkContext.setJobDescription(sentinel)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true

      listingTasks.size should be > 0
      // one task per path would be 40; Tuning caps the fan-out at 8 on 4 cores
      listingTasks.asScala.foreach(_ should be <= 8)

      val got = spark.table("drain_out").collect()
        .map(r => (r.getAs[String]("path").split('/').last, r.getAs[Long]("offset"),
          new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        .sortBy(r => (r._1, r._2)).toSeq
      val expected = parts.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (f, ps) =>
        val bodies = ps.sortBy(_._2).map(_._3)
        val offsets = bodies.scanLeft(0L)(_ + _.length)
        bodies.zip(offsets).map { case (b, o) => (s"log$f", o, b) }
      }
      got shouldBe expected
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("watermarked ingest stats: append mode emits a window only after the watermark passes it") {
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft-stats")
    val ckpt = Files.createTempDirectory("graft-stats-ckpt")
    def writeAt(name: String, body: String, mtimeMs: Long): Unit = {
      val p = dir.resolve(name)
      Files.write(p, body.getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    }
    val t0 = (System.currentTimeMillis() / 60000L) * 60000L // minute-aligned
    val q = FileStreamPipeline.ingestStats(spark, s"$dir/*")
      .writeStream.format("memory").queryName("stats_out")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      writeAt("a.bin", "12345", t0)
      q.processAllAvailable()
      // watermark (= t0 - 10min) hasn't passed a's window yet → nothing
      spark.table("stats_out").count() shouldBe 0L
      // a file 30 minutes later pushes the watermark past a's window
      writeAt("late-driver.bin", "678", t0 + 30 * 60000L)
      q.processAllAvailable()
      q.processAllAvailable() // one more batch for the state flush
      val rows = spark.table("stats_out").collect()
      rows.length shouldBe 1L // a's window emitted; the new window still open
      rows.head.getAs[Long]("n_files") shouldBe 1L
      rows.head.getAs[Long]("n_bytes") shouldBe 5L
    } finally q.stop()
  }

  test("streaming records shape into kafka frames (key/value/topic)") {
    val dir = Files.createTempDirectory("graft-kshape")
    val ckpt = Files.createTempDirectory("graft-kshape-ckpt")
    val frames = graft.ingest.Records.toKafkaFrame(
      FileStreamPipeline.changeRecords(spark, s"$dir/*", "media"),
      graft.ingest.Records.KeyStyle.StructKey)
    val q = frames.writeStream.format("memory").queryName("kframe_out")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      Files.write(dir.resolve("x.part0"), "abc".getBytes(UTF_8))
      q.processAllAvailable()
      val r = spark.table("kframe_out").collect().head
      new String(r.getAs[Array[Byte]]("key"), UTF_8) should include(""""offset":0""")
      new String(r.getAs[Array[Byte]]("value"), UTF_8) shouldBe "abc"
      r.getAs[String]("topic") shouldBe "media"
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes offsets and tail state") {
    val dir = Files.createTempDirectory("graft-recover")
    val ckpt = Files.createTempDirectory("graft-recover-ckpt")
    val out = Files.createTempDirectory("graft-recover-out")
    def write(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(UTF_8), StandardOpenOption.CREATE)
    // memory sink can't recover from a checkpoint; the parquet sink can
    def startQuery() = FileStreamPipeline.changeRecords(spark, s"$dir/*", "rec")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()

    val q1 = startQuery()
    write("f.part0", "hello")
    q1.processAllAvailable()
    q1.stop() // simulated crash/restart boundary (SURVEY.md §3.3)

    write("f.part1", " again")
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out.toString).collect()
        .map(r => (r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        .sortBy(_._1)
      // offset 5 for part1 proves the tail state (totalSize=5) survived
      // the restart via the checkpointed state store; part0 not re-emitted
      // proves source offsets were recovered
      rows.toSeq shouldBe Seq((0L, "hello"), (5L, " again"))
    } finally q2.stop()
  }

  test("dedup within watermark drops re-delivered records across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val deduped = FileStreamPipeline.dedupWithinWatermark(
      input.toDF().toDF("path", "offset", "ts"), "ts", "10 minutes",
      Seq("path", "offset"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(minute: Int) = new java.sql.Timestamp(1700000000000L + minute * 60000L)
      input.addData(("/a", 0L, ts(0)), ("/a", 0L, ts(1))) // in-batch duplicate
      q.processAllAvailable()
      input.addData(("/a", 0L, ts(2)), ("/b", 0L, ts(2))) // cross-batch duplicate
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      rows.sorted.toSeq shouldBe Seq(("/a", 0L), ("/b", 0L))
    } finally q.stop()
  }

  test("update-mode monitoring: in-place mutation re-detected in streaming " +
      "(FtpMonitor.scala:35-46,87-95)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-upd")
    val stateDir = Files.createTempDirectory("graft-upd-state")
    val ticks = MemoryStream[Int]
    @volatile var out = Vector.empty[(String, Long, String)]
    val q = FileStreamPipeline.updateMonitorPolls(
      ticks.toDF(),
      Seq(graft.ingest.MonitoredPath(s"$dir/*", tail = false, topic = "t")),
      stateDir.toString,
      sink = ds => out ++= ds.collect().toSeq
        .map(r => (r.path, r.offset, new String(r.value, UTF_8))))
    try {
      Files.write(dir.resolve("u0"), "v1".getBytes(UTF_8))
      ticks.addData(1)
      q.processAllAvailable()
      out.map(r => (r._2, r._3)) shouldBe Vector((0L, "v1"))

      // rewrite history IN PLACE: the file stream source would never
      // re-deliver this path; the per-tick state compare must
      ticks.addData(2) // quiescent tick first: no change → no record
      q.processAllAvailable()
      out.size shouldBe 1

      Files.write(dir.resolve("u0"), "v2-longer".getBytes(UTF_8),
        StandardOpenOption.TRUNCATE_EXISTING)
      ticks.addData(3)
      q.processAllAvailable()
      out.map(r => (r._2, r._3)) shouldBe
        Vector((0L, "v1"), (0L, "v2-longer")) // whole body again at offset 0
    } finally q.stop()
  }

  test("update-mode monitoring is at-least-once: a sink failure leaves state " +
      "unpublished, so a restarted query re-emits the batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-alo")
    val stateDir = Files.createTempDirectory("graft-alo-state")
    val dirs = Seq(graft.ingest.MonitoredPath(s"$dir/*", tail = false, topic = "t"))
    Files.write(dir.resolve("f0"), "payload".getBytes(UTF_8))

    // first delivery attempt: the sink throws AFTER the poll ran — the
    // state publish must not have happened yet, or the record is lost
    val ticks1 = MemoryStream[Int]
    val q1 = FileStreamPipeline.updateMonitorPolls(
      ticks1.toDF(), dirs, stateDir.toString,
      sink = _ => throw new RuntimeException("sink down"))
    ticks1.addData(1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()

    // recovery: a fresh query over the SAME state dir must re-detect and
    // re-emit the batch the failed sink never delivered
    val ticks2 = MemoryStream[Int]
    @volatile var out = Vector.empty[(Long, String)]
    val q2 = FileStreamPipeline.updateMonitorPolls(
      ticks2.toDF(), dirs, stateDir.toString,
      sink = ds => out ++= ds.collect().toSeq
        .map(r => (r.offset, new String(r.value, UTF_8))))
    try {
      ticks2.addData(1)
      q2.processAllAvailable()
      out shouldBe Vector((0L, "payload"))
    } finally q2.stop()
  }

  test("text operators compose on the streaming ingest output") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-compose")
    Files.write(dir.resolve("a.txt"), "Alpha beta  GAMMA".getBytes(UTF_8))
    Files.write(dir.resolve("b.txt"), "one two three four five".getBytes(UTF_8))
    // the same token/quality column expressions the batch pack uses run
    // unchanged on the streaming change-record frame
    val scored = FileStreamPipeline.changeRecords(spark, s"$dir/*", "t")
      .toDF()
      .withColumn("text", col("value").cast("string"))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(graft.functions.TextTokens.tokens))
      .select(col("path"), col("n_tokens"))
    val q = scored.writeStream.format("memory")
      .queryName("graft_compose_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("graft_compose_stream").collect()
        .map(r => (r.getString(0).split('/').last, r.getInt(1))).toMap
      rows shouldBe Map("a.txt" -> 3, "b.txt" -> 5)
    } finally q.stop()
  }

  test("idle-state eviction: a timed-out key drops its state and emits nothing") {
    import org.apache.spark.sql.streaming.TestGroupState
    // timed-out invocation: state must be removed, no records emitted
    val timedOut = TestGroupState.create[FileStreamPipeline.ChunkTailState](
      optionalState = org.apache.spark.api.java.Optional.of(
        FileStreamPipeline.ChunkTailState(10L, 1L)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = FileStreamPipeline.tailStateFn("t", Some("1 hour"))(
      "f", Iterator.empty, timedOut).toSeq
    out shouldBe empty
    timedOut.isRemoved shouldBe true

    // live invocation with a timeout configured: the deadline is set so
    // an idle key eventually times out instead of living forever
    val live = TestGroupState.create[FileStreamPipeline.ChunkTailState](
      optionalState = org.apache.spark.api.java.Optional.empty[FileStreamPipeline.ChunkTailState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val rec = FileStreamPipeline.tailStateFn("t", Some("1 hour"))(
      "f", Iterator(FileStreamPipeline.Chunk("f", "f", 2L, 0L, Array[Byte](1, 2))),
      live).toSeq
    rec.map(r => (r.offset, r.value.toSeq)) shouldBe Seq((0L, Seq[Byte](1, 2)))
    live.isRemoved shouldBe false
    live.getTimeoutTimestampMs.isPresent shouldBe true

    // poison part number: treated as unnumbered, not a crash
    FileStreamPipeline.chunkOrder("x.part99999999999999999999")._1 shouldBe Long.MaxValue
  }

  test("chunkKey strips part suffix only") {
    FileStreamPipeline.chunkKey("/d/f.part12") shouldBe "/d/f"
    FileStreamPipeline.chunkKey("/d/f.log") shouldBe "/d/f.log"
    FileStreamPipeline.chunkKey("/d/f.part") shouldBe "/d/f.part"
  }

  test("chunk ordering is numeric: part10 stitches after part2") {
    val paths = Seq("/d/f.part10", "/d/f.part2", "/d/f.part0", "/d/f.part1")
    paths.sortBy(FileStreamPipeline.chunkOrder) shouldBe
      Seq("/d/f.part0", "/d/f.part1", "/d/f.part2", "/d/f.part10")
  }

  test("cross-batch out-of-order parts wait for their predecessors") {
    val dir = Files.createTempDirectory("graft-ooo")
    val ckpt = Files.createTempDirectory("graft-ooo-ckpt")
    def write(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(UTF_8), StandardOpenOption.CREATE)
    val q = FileStreamPipeline.changeRecords(spark, s"$dir/*", "ooo")
      .writeStream.format("memory").queryName("ooo_out")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      // part1 lands a whole micro-batch BEFORE part0: nothing may emit
      write("f.part1", "WORLD")
      q.processAllAvailable()
      spark.table("ooo_out").count() shouldBe 0L
      // part0 arrives: both emit, in part order, with correct offsets
      write("f.part0", "HELLO ")
      q.processAllAvailable()
      val rows = spark.table("ooo_out").collect()
        .map(r => (r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        .sortBy(_._1)
      rows.toSeq shouldBe Seq((0L, "HELLO "), (6L, "WORLD"))
    } finally q.stop()
  }

  test("10+ chunks arriving in one batch stitch in part order") {
    val dir = Files.createTempDirectory("graft-manyparts")
    val ckpt = Files.createTempDirectory("graft-manyparts-ckpt")
    (0 to 11).foreach(i => Files.write(dir.resolve(s"v.part$i"), s"[$i]".getBytes(UTF_8)))
    val q = FileStreamPipeline.changeRecords(spark, s"$dir/*", "c")
      .writeStream.format("memory").queryName("manyparts_out")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      q.processAllAvailable()
      val body = spark.table("manyparts_out").collect()
        .map(r => (r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value"), UTF_8)))
        .sortBy(_._1).map(_._2).mkString
      body shouldBe (0 to 11).map(i => s"[$i]").mkString
    } finally q.stop()
  }
}
