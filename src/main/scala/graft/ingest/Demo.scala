package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Runnable walkthrough of the ingestion engine's public API: the batch
  * poll loop with parquet-persisted state (reference semantics), record
  * shaping for Kafka, and the streaming chunk-tail pipeline. Doubles as
  * usage documentation: `sbt "runMain graft.ingest.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Tuning.configure(SparkSession.builder(), 4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = Files.createTempDirectory("graft-demo")
    val stateDir = Files.createTempDirectory("graft-demo-state").toString
    def write(rel: String, s: String, append: Boolean = false): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      if (append) Files.write(p, s.getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      else Files.write(p, s.getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    }
    val dirs = Seq(
      MonitoredPath(s"$root/logs/", tail = true, topic = "logs"),
      MonitoredPath(s"$root/configs/", tail = false, topic = "configs"))

    // one staged poll: the state publishes only after the records are
    // printed (the at-least-once contract: commit after delivery)
    def poll(tag: String): Unit = {
      val (recs, commit) = Monitor.pollWithStateDirStaged(spark, dirs, stateDir)
      recs.collect().sortBy(r => (r.path, r.offset)).foreach { r =>
        println(s"$tag topic=${r.topic} path=${r.path.stripPrefix(root.toString)} " +
          s"offset=${r.offset} value=${new String(r.value, UTF_8).replace("\n", "\\n")}")
      }
      commit()
    }

    println("== poll 1: initial files")
    write("logs/app.log", "line1\n")
    write("configs/c.conf", "v=1")
    poll("poll1:")

    println("== poll 2: append to the log, rewrite the config (state from parquet)")
    write("logs/app.log", "line2\n", append = true)
    write("configs/c.conf", "v=2")
    poll("poll2:")

    println("== poll 3: nothing changed")
    poll("poll3:")

    println("== poll 4 (simulated restart: fresh session reads the same state)")
    write("logs/app.log", "line3\n", append = true)
    poll("poll4:")

    println("== poll 5: tailed file rewritten shorter (fallback case)")
    write("logs/app.log", "rewritten\n")
    poll("poll5:")

    println("== kafka-shaped frame (struct keys)")
    import spark.implicits._
    val sample = Seq(FileChangeRecord("logs", "/logs/app.log", 6L, "line2\n".getBytes(UTF_8))).toDS()
    Records.toKafkaFrame(sample, Records.KeyStyle.StructKey).show(false)

    println("== config-driven poll loop (MonitorConfig + PollDriver + converter)")
    val loopRoot = Files.createTempDirectory("graft-demo-loop")
    val loopState = Files.createTempDirectory("graft-demo-loop-state").toString
    val cfg = MonitorConfig(Map(
      MonitorConfig.MonitorUpdate -> s"$loopRoot/in/:csvtopic",
      MonitorConfig.Refresh -> "PT0S",
      MonitorConfig.SourceRecordConverter -> "graft.ingest.Records$LineSplitRecordConverter"))
    val driver = new PollDriver(spark, cfg, loopState,
      sink = recs => recs.collect().sortBy(_.offset).foreach(r =>
        println(s"loop: topic=${r.topic} offset=${r.offset} " +
          s"value=${new String(r.value, UTF_8)}")))
    Files.createDirectories(loopRoot.resolve("in"))
    Files.write(loopRoot.resolve("in/rows.csv"), "id,qty\n1,10\n2,20".getBytes(UTF_8))
    println(s"poll -> ${driver.pollOnce()} records (line-split)")
    println(s"quiet poll -> ${driver.pollOnce()} records; backoff=${driver.currentBackoffMs}ms")

    println("== streaming: chunked uploads stitched with state store offsets")
    val streamDir = Files.createTempDirectory("graft-demo-stream")
    val ckpt = Files.createTempDirectory("graft-demo-ckpt")
    val q = graft.streaming.FileStreamPipeline
      .changeRecords(spark, s"$streamDir/*", "chunks")
      .writeStream.format("memory").queryName("demo_chunks")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    Files.write(streamDir.resolve("video.bin.part0"), "AAAA".getBytes(UTF_8))
    q.processAllAvailable()
    Files.write(streamDir.resolve("video.bin.part1"), "BB".getBytes(UTF_8))
    q.processAllAvailable()
    spark.table("demo_chunks").collect().foreach { r =>
      println(s"stream: path=${r.getAs[String]("path").stripPrefix(streamDir.toString)} " +
        s"offset=${r.getAs[Long]("offset")} value=${new String(r.getAs[Array[Byte]]("value"), UTF_8)}")
    }
    q.stop()
    spark.stop()
  }
}
