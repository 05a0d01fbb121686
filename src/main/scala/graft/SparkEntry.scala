package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.llm.{Dedup, Similarity, TextStats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory of SURVEY.md §2 (Tiers A-E plus
  * the builder-mandated LLM-pipeline extras); `oracleSql` carries the
  * DuckDB-equivalent SQL for every oracle-checkable key (SURVEY §2 "Oracle"
  * column), written to the determinism rules of SURVEY §7.4.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The TPC-H-Q1-style pricing summary (SURVEY §7.2 M0). */
  def entry(spark: SparkSession): DataFrame =
    TierCAgg.queries("agg_groupby_having")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TierA.queries ++ TierB.queries ++
      TierCFilters.queries ++ TierCJoins.queries ++ TierCAgg.queries ++
      TierCWindow.queries ++ TierCSortSet.queries ++ TierCFunctions.queries ++
      TierCSubquery.queries ++ TierD.queries ++
      Dedup.queries ++ Similarity.queries ++ TextStats.queries

  /** The keys the harness mains run: `names` in the order given, or every
    * key in name order when `names` is empty. An unknown name fails before
    * any query runs. */
  def select(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1)
    else names.distinct.map(n => n -> all(n))
  }

  /** Core count of the harness mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session every harness main runs on: [[GraftSession.builder]] at
    * `local[cpus]` with `cpus` shuffle partitions. Logs at ERROR, not WARN:
    * benign per-query WARNs (e.g. WindowExec's "No Partition Defined" on
    * k-row global windows) would crowd the mains' own stderr diagnostics
    * and the bench's final summary line out of a bounded output tail. */
  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    TierA.oracle ++ TierB.oracle ++
      TierCFilters.oracle ++ TierCJoins.oracle ++ TierCAgg.oracle ++
      TierCWindow.oracle ++ TierCSortSet.oracle ++ TierCFunctions.oracle ++
      TierCSubquery.oracle ++ TierD.oracle ++
      Dedup.oracle ++ Similarity.oracle ++ TextStats.oracle
}
