package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TuningSpec extends AnyFunSuite with Matchers {

  test("file-listing fan-out follows the shuffle-partition rule") {
    for ((cores, expected) <- Seq(1 -> "8", 4 -> "8", 1000 -> "2000")) {
      val rules = Tuning.rules(cores).toMap
      rules("spark.sql.shuffle.partitions") shouldBe expected
      rules("spark.sql.sources.parallelPartitionDiscovery.parallelism") shouldBe expected
    }
  }
}
