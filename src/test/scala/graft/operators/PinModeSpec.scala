package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Gates for the flag-dispatched pin strategy (r16 verdict item 8):
  * `spark.graft.pin = reliable` must swap every pin from
  * executor-local checkpoint blocks to a reliable checkpoint under
  * `spark.graft.checkpointDir` WITHOUT changing what any caller
  * observes — same rows, same per-partition stats, same frozen
  * nondeterministic values across repeated reads. The suite runs every
  * contract under BOTH modes so a regression in either path fails by
  * name. A source scan keeps `Shim` the only pin path in `src/main`.
  */
class PinModeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def withPinMode[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption("spark.graft.pin")
    spark.conf.set("spark.graft.pin", mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.pin", v)
      case None    => spark.conf.unset("spark.graft.pin")
    }
  }

  private def sampleDf(): DataFrame = {
    import spark.implicits._
    (1L to 400L).toDF("k")
      .repartition(5, $"k")
      .withColumn("v", $"k" * 3L - 7L)
  }

  for (mode <- Seq("localCheckpoint", "reliable")) {
    test(s"[$mode] pin freezes nondeterministic values across reads") {
      withPinMode(mode) {
        val pinned = Shim.pin(sampleDf().withColumn("r", rand(seed = 0) * lit(1e12)))
        val a = pinned.collect().map(_.toSeq).toSet
        val b = pinned.collect().map(_.toSeq).toSet
        a shouldBe b
        a.size shouldBe 400
      }
    }

    test(s"[$mode] cutCheckpoint preserves rows and resets plan stats") {
      withPinMode(mode) {
        val df = sampleDf()
        val cut = Shim.cutCheckpoint(df)
        cut.collect().map(_.toSeq).toSet shouldBe df.collect().map(_.toSeq).toSet
        // the stats cut: the rebuilt LogicalRDD must carry the constant
        // leaf default, not the origin plan's estimate (the whole point
        // of cutCheckpoint vs a plain checkpoint)
        val stats = cut.queryExecution.optimizedPlan.stats.sizeInBytes
        stats shouldBe spark.sessionState.conf.defaultSizeInBytes
      }
    }

    test(s"[$mode] pinWithPartitionStats stats agree with the pinned data") {
      withPinMode(mode) {
        import spark.implicits._
        val df = sampleDf().sortWithinPartitions($"k")
        val (pinned, stats) = Shim.pinWithPartitionStats(df, Seq("k", "v"))
        // same rows out
        pinned.collect().map(_.toSeq).toSet shouldBe df.collect().map(_.toSeq).toSet
        // stats index IS the partition id; counts and last-row longs
        // must match what the pinned frame itself reports
        val byPart = pinned
          .groupBy(spark_partition_id().as("p"))
          .agg(count(lit(1)).as("n"), max($"k").as("lk"), max($"v").as("lv"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        stats.length shouldBe 5
        stats.zipWithIndex.foreach { case ((n, lastVals), p) =>
          byPart.get(p) match {
            case Some((cn, lk, lv)) =>
              n shouldBe cn
              lastVals.toSeq shouldBe Seq(lk, lv)
            case None =>
              n shouldBe 0L
              (lastVals eq null) shouldBe true
          }
        }
      }
    }
  }

  test("[reliable] pin actually writes a reliable checkpoint") {
    withPinMode("reliable") {
      val dir = java.nio.file.Files.createTempDirectory("graft-ck-spec").toString
      val prevDir = spark.conf.getOption("spark.graft.checkpointDir")
      spark.conf.set("spark.graft.checkpointDir", dir)
      try {
        Shim.pin(sampleDf()).count() shouldBe 400L
        val ckDir = spark.sparkContext.getCheckpointDir
        ckDir.isDefined shouldBe true
        // files landed under the session's checkpoint dir (ours if this
        // suite ran first, an earlier test's otherwise — either proves
        // the reliable path wrote through)
        val root = new java.io.File(new java.net.URI(ckDir.get).getPath)
        def anyFile(f: java.io.File): Boolean =
          f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
        anyFile(root) shouldBe true
      } finally prevDir match {
        case Some(v) => spark.conf.set("spark.graft.checkpointDir", v)
        case None    => spark.conf.unset("spark.graft.checkpointDir")
      }
    }
  }

  test("reliable mode needs an explicit checkpoint dir off a local master") {
    Shim.checkpointDirFor("local[4]", None, "/tmp") shouldBe "/tmp/graft_checkpoints"
    Shim.checkpointDirFor("yarn", Some("hdfs:///ck"), "/tmp") shouldBe "hdfs:///ck"
    val e = intercept[IllegalArgumentException] {
      Shim.checkpointDirFor("spark://host:7077", None, "/tmp")
    }
    e.getMessage should include("spark.graft.checkpointDir")
  }

  test("pinWithPartitionStats names a null or non-long key column") {
    import spark.implicits._
    val withNull = sampleDf()
      .withColumn("v", when($"k" === 200L, lit(null)).otherwise($"v"))
    val e = intercept[Exception](Shim.pinWithPartitionStats(withNull, Seq("k", "v")))
    e.getMessage should include("null in column v")
    val e2 = intercept[IllegalArgumentException] {
      Shim.pinWithPartitionStats(sampleDf().withColumn("w", $"k".cast("int")), Seq("w"))
    }
    e2.getMessage should include("column w must be LongType")
  }

  test("pinWithWidthBound: a partition past the key cap reports Long.MaxValue " +
      "and the pair join falls back to the exact probe") {
    import spark.implicits._
    // partition 0 holds more distinct keys than the cap, partition 1
    // (filtered to 100 rows) far fewer; ids below 1000 share ten keys,
    // so there are real pairs to find
    val big = Shim.WidthBoundMaxKeys.toLong + 1000L
    val df = spark.range(0L, 2L * big, 1L, 2).filter($"id" < big + 100L)
      .select($"id", when($"id" < 1000L, $"id" % 10L).otherwise($"id").as("key"))
    val keyIdx = df.schema.fieldIndex("key")
    val (pinned, bound) =
      Shim.pinWithWidthBound(df, r => Iterator.single(r.getLong(keyIdx)))
    pinned.rdd.getNumPartitions shouldBe 2
    bound shouldBe Long.MaxValue
    def pairs(widthBound: Option[Long]) =
      Dedup.boundedBucketPairs(pinned, "id", Seq("key"), widthBound = widthBound)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBound = pairs(Some(bound))
    viaBound.size shouldBe 10 * (100 * 99 / 2)
    viaBound shouldBe pairs(None)
  }

  test("Shim is the only pin path in src/main") {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    def hits(fs: Seq[java.io.File], needles: Seq[String]): Seq[String] =
      for {
        f <- fs
        (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
        if needles.exists(line.contains)
      } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    val main = files(new java.io.File("src/main"))
    main should not be empty
    hits(main.filterNot(_.getName == "Shim.scala"),
      Seq("localCheckpoint(", ".checkpoint(", "persist(StorageLevel")) shouldBe empty
    // the retired persist-based option, spelled so this file never matches
    val retired = "spark.graft." + "scan" + "Once"
    hits(files(new java.io.File("src")) :+ new java.io.File("README.md"),
      Seq(retired)) shouldBe empty
  }
}
