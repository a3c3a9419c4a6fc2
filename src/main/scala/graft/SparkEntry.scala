package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CorpusAssembly, Dedup, EventTime, IngestAnalog, Layout, Multimodal, Relational, Scoring, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query surface is assembled from themed packs; each pack entry
  * carries its own DuckDB oracle where SQL-expressible.
  */
object SparkEntry {

  /** All query packs (SURVEY.md §2 inventory + §2.3 extensions). */
  def packs: Seq[QueryPack] =
    Seq(Relational, IngestAnalog, TextAnalysis, CorpusAssembly, Dedup, Similarity, Multimodal, EventTime, Scoring, Layout)

  def allQueries: Map[String, QueryDef] =
    packs.foldLeft(Map.empty[String, QueryDef]) { (acc, p) =>
      p.queries.keys.find(acc.contains).foreach { k =>
        throw new IllegalStateException(s"duplicate query name: $k") }
      acc ++ p.queries
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_pricing_summary").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql.trim }

  /** Names timed by graft.Bench at sf0.1. */
  def headlineQueries: Seq[String] =
    allQueries.collect { case (k, q) if q.headline => k }.toSeq.sorted
}
