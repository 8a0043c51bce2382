package graft.queries

import graft.operators.TextAnalysis
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's applications (SURVEY §2b) re-expressed as native
  * DataFrame queries over the documents table — the scalable formulations:
  * Catalyst gets partial aggregation, codegen and pushdown here, unlike the
  * parity-exact generic [[graft.core.MapReduceJob]] path (which combines
  * nothing: every ("word","1") value reaches the reducer exactly like the
  * reference, src/mrapps/wc.go:27-31, shuffled as one (word, values) row per
  * file).
  *
  * Tokenizer: [[TextAnalysis.tokens]], the codegen'd letter-run kernel ≡
  * Java regex `[^\p{L}]+` ≡ Go FieldsFunc(!unicode.IsLetter)
  * (property-tested in TokenizerProp); empty tokens dropped like Go
  * FieldsFunc.
  */
object MrQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> wordcount,
    "mr_inverted_index" -> invertedIndex,
    "mr_nocrash" -> nocrash,
  )

  private def words(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))

  /** Word count (src/mrapps/wc.go) — groupBy(word).count() gets map-side
    * partial aggregation: at 100 TB each executor pre-counts its split and
    * ships one row per distinct word, not one per occurrence.
    */
  private def wordcount(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir).groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Inverted index (src/mrapps/indexer.go): per-document word dedupe, then
    * "<count> <sorted,comma,joined,docs>" per word. Output splits count and
    * doc list into typed columns (n_docs, docs) rather than one formatted
    * string; doc ids sort lexicographically as strings, matching the
    * reference's sort.Strings on filenames.
    */
  private def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .select(col("word"), col("doc_id").cast("string").as("doc"))
      .distinct()
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("doc")))).as("docs"))
      .orderBy("word")

  /** nocrash/crash golden semantics (src/mrapps/nocrash.go): keys a..d per
    * document, values sorted and space-joined per key.
    */
  private def nocrash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .select(concat(lit("doc-"), col("doc_id")).as("fname"), col("text"))
    val kv = d.select(lit("a").as("key"), col("fname").as("value"))
      .union(d.select(lit("b").as("key"), length(col("fname")).cast("string").as("value")))
      .union(d.select(lit("c").as("key"), length(col("text")).cast("string").as("value")))
      .union(d.select(lit("d").as("key"), lit("xyzzy").as("value")))
    kv.groupBy("key")
      .agg(concat_ws(" ", sort_array(collect_list(col("value")))).as("vals"))
      .orderBy("key")
  }

  def oracle: Map[String, String] = Map(
    "mr_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "mr_inverted_index" ->
      """SELECT word, count(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS docs FROM (
        |  SELECT DISTINCT word, doc FROM (
        |    SELECT CAST(doc_id AS VARCHAR) AS doc,
        |           unnest(string_split_regex(text, '[^\p{L}]+')) AS word
        |    FROM documents)
        |  WHERE word <> '')
        |GROUP BY word ORDER BY word""".stripMargin,
    "mr_nocrash" ->
      """WITH kv AS (
        |  SELECT 'a' AS key, concat('doc-', doc_id) AS value FROM documents
        |  UNION ALL
        |  SELECT 'b', CAST(length(concat('doc-', doc_id)) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'd', 'xyzzy' FROM documents)
        |SELECT key, string_agg(value, ' ' ORDER BY value) AS vals
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,
  )
}
