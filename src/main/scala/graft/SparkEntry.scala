package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Embeddings, Multimodal, Similarity, TextAnalysis}
import graft.queries.{MrQueries, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY §2 (or
  * a north-star LLM-pipeline operator); entries with a matching key in
  * [[oracleSql]] are hash-checked against DuckDB on the same parquet
  * tables, so both sides are written for bit-identical output (exact
  * decimal arithmetic exported as double, total ordering, string-formatted
  * timestamps).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.defs("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ MrQueries.defs ++ TextAnalysis.defs ++
      Dedup.defs ++ Similarity.defs ++ Multimodal.defs ++ Embeddings.defs ++
      graft.streaming.EventStream.defs ++ graft.sources.Sources.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ MrQueries.oracle ++ TextAnalysis.oracle ++
      Dedup.oracle ++ Similarity.oracle ++ Multimodal.oracle ++ Embeddings.oracle ++
      graft.streaming.EventStream.oracle ++ graft.sources.Sources.oracle

  /** EVERY family's shared in-session corpus build, in dependency order —
    * the one list Bench (timed `_build_*` attribution entries) and
    * the probes (graft.tools.Probe) force before per-query timing, so no roster entry's
    * figure silently absorbs a memo build that belongs to the family
    * (the r12/r13 attribution postmortems: the alphabetically-first
    * consumer of an unwarmed store read 40–200 s for seconds of query
    * work). What each build owns is recorded when it runs
    * ([[graft.core.Memo.builtBy]]), not declared here.
    */
  private[graft] def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    Relational.memoWarmers ++ Dedup.memoWarmers ++ Multimodal.memoWarmers ++
      Similarity.memoWarmers
}
