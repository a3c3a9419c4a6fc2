package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Smoke: every registered query executes at sf0.001 and the flagship
  * entry returns rows (the driver's t1 check). Oracle equivalence is
  * checked by graft.Verify + tools/check.py at sf0.01.
  */
class QuerySmokeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("provenance summary resolves from the build resource") {
    Provenance.summary should startWith("kafkaconnectftpspark 0.1.0")
  }

  test("entry returns rows") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every query name has unique, well-formed oracle wiring") {
    val qs = SparkEntry.allQueries
    qs.keys.foreach(k => k should fullyMatch regex "[a-z0-9_]+")
    SparkEntry.oracleSql.keySet.subsetOf(qs.keySet) shouldBe true
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Files under the SparkContext's reliable-checkpoint dir (0 before
    * the first reliable pin sets it). */
  private def checkpointFiles(): Int = {
    def count(f: java.io.File): Int =
      if (f.isFile) 1 else Option(f.listFiles()).map(_.map(count).sum).getOrElse(0)
    spark.sparkContext.getCheckpointDir
      .map(d => count(new java.io.File(new java.net.URI(d).getPath)))
      .getOrElse(0)
  }

  /** Two micro-batches through the streaming SCD2 face; its per-batch
    * fold pins the batch's latest versions. */
  private def scd2Versions(table: String): Seq[Seq[Any]] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val input = MemoryStream[(Long, Int, Double, String, Long)]
    val q = streaming.StreamingScd2.scd2Stream(
      input.toDF().toDF("c_custkey", "c_nationkey", "c_acctbal",
        "c_mktsegment", "change_seq"),
      table, buckets = 4,
      java.nio.file.Files.createTempDirectory("graft-smoke-scd2").toString)
    try {
      input.addData((1L, 5, 10.0, "AUTO", 1L), (2L, 7, 20.0, "HOME", 2L))
      q.processAllAvailable()
      input.addData((1L, 5, 11.0, "MOVED1", 3L), (1L, 5, 12.0, "MOVED2", 4L))
      q.processAllAvailable()
      streaming.StreamingScd2.scd2Snapshot(spark, table)
        .orderBy("c_custkey", "valid_from").collect().toSeq.map(_.toSeq)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("reliable pin mode: every pack's pins write checkpoints, rows unchanged") {
    // one query per pack, plus a streaming face, whose pins route
    // through Shim; mm_shard_decode's pins sit in its tar-shard build, so
    // artifacts go to a fresh root and the build runs instead of a read
    val names = Seq("q_benford", "evt_retention", "sim_mmr_rerank",
      "llm_novelty", "dedup_ngram_jaccard", "llm_pmi_collocations",
      "llm_count_min", "q_bloom_skipping", "ref_rendezvous_route",
      "mm_shard_decode")
    val runs: Seq[(String, () => Seq[Seq[Any]])] = names.map(n => n -> (() =>
      SparkEntry.queries(n)(spark, sf).collect().toSeq.map(_.toSeq))) :+
      ("StreamingScd2" -> (() => scd2Versions("smoke_scd2")))
    val expected = runs.map { case (_, run) => run() }
    val artifacts =
      java.nio.file.Files.createTempDirectory("graft-smoke-artifacts").toString
    withConf("spark.graft.pin" -> "reliable",
        "spark.graft.artifactsRoot" -> artifacts) {
      runs.zip(expected).foreach { case ((n, run), exp) =>
        val before = checkpointFiles()
        withClue(s"$n under reliable mode: ") {
          run() shouldBe exp
          checkpointFiles() should be > before
        }
      }
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001") {
      noException should be thrownBy fn(spark, sf).count()
    }
  }
}
