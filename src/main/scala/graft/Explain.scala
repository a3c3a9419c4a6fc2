package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints the formatted physical plan of each
  * headline query (or the names given as args) so scan pushdown, join
  * strategies, and codegen spans can be audited. `sbt "runMain
  * graft.Explain [names...]"`. The session is [[Bench]]'s (same
  * `Tuning` rules, `SPARK_GRAFT_CPUS` cores), so the printed plans are
  * the plans the bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tuning.configure(SparkSession.builder(), cpus.toInt)
      .master(s"local[$cpus]")
      // Bench's local override, so shuffle partition counts match too
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.headlineQueries
    names.foreach { name =>
      println(s"########## $name ##########")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
