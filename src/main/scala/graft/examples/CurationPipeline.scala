package graft.examples

import graft.operators.{Dedup, TextAnalysis}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the library's operators composed the
  * way a real pipeline chains them —
  *
  *   quality gate (Gopher rules) → near-dup removal (MinHash-LSH clusters,
  *   best-of-cluster survivor) → leak-free train/val/test split →
  *   sequence packing (train split) → one partitioned parquet layout.
  *
  * Every stage is the SAME operator the driver hash-checks individually
  * (ta_gopher / dd_resolve / ta_split / ta_pack), so the composition adds
  * no new semantics — only the plumbing between them, which is what this
  * example exists to demonstrate and CurationPipelineSpec pins: stage
  * counts only shrink, survivors all pass the quality gate, no document
  * appears in two splits, and packing covers exactly the train split.
  *
  * Scale notes: the stages communicate by doc_id joins on frames that
  * only ever shrink; the final write is Hive-partitioned by split so
  * downstream training jobs prune to their split at planning time.
  */
object CurationPipeline {

  /** Run the pipeline; returns (stage → (docs, tokens)) for reporting and
    * the per-doc final frame (doc_id, source, split, seq_id).
    */
  def run(spark: SparkSession, sfDir: String,
          outDir: Option[String] = None): (Seq[(String, (Long, Long))], DataFrame) = {
    val docs = Tables.load(spark, sfDir, "documents")
    def measure(df: DataFrame): (Long, Long) = {
      val r = df
        .select(count(lit(1)), sum(size(TextAnalysis.tokens(col("text")))))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // each stage is materialized once: the gate/dedup frames feed several
    // downstream actions (measures, the split, packing, the write), and
    // without the checkpoint every action re-runs the Gopher scan and the
    // LSH clustering — the same multiple-consumer lesson as q39/q40
    val keepQuality = TextAnalysis.gopherRules(docs)
      .filter(col("keep") === 1).select("doc_id")
    val quality = docs.join(keepQuality, "doc_id").localCheckpoint(true)

    val survivors = Dedup.resolveClusters(quality)
      .filter(col("keep") === 1).select("doc_id")
    val deduped = quality.join(survivors, "doc_id").localCheckpoint(true)

    val split = TextAnalysis.trainValTest(deduped)
      .select(col("doc_id"), col("split"))
    val withSplit = deduped.join(split, "doc_id").localCheckpoint(true)

    val train = withSplit.filter(col("split") === "train")
    val packed = TextAnalysis.packSequences(train)
      .select(col("doc_id"), col("first_chunk").as("seq_id"))

    val fin = withSplit
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("split"), col("seq_id"))

    outDir.foreach { dir =>
      withSplit.select("doc_id", "text", "lang", "source", "n_chars", "split")
        .write.mode("overwrite").partitionBy("split").parquet(dir)
    }

    val counts = Seq(
      "raw" -> measure(docs),
      "quality" -> measure(quality),
      "deduped" -> measure(deduped),
      "train" -> measure(train))
    (counts, fin)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session("graft-curation-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    val (counts, fin) = run(spark, sfDir, args.lift(1))
    counts.foreach { case (stage, (d, t)) =>
      println(f"[pipeline] $stage%-8s $d%7d docs $t%9d tokens")
    }
    val splits = fin.groupBy("split").count().orderBy("split").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[pipeline] splits: $splits")
    spark.stop()
  }
}
