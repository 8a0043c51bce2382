package graft.examples

import graft.operators.{Dedup, TextAnalysis}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
    *
    * The stage counts cost no job of their own: each is an observation
    * (`Dataset.observe`) on the frame that the stage's eager checkpoint
    * materializes anyway, read when that action ends. The raw count is
    * taken in the gate's own scan, before the gate drops a row; the
    * token counts past the gate sum the `n_words` the gate computed.
    */
  def run(spark: SparkSession, sfDir: String,
          outDir: Option[String] = None): (Seq[(String, (Long, Long))], DataFrame) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val stages = Seq("raw", "quality", "deduped", "train").map(_ -> Observation())
    val observed = stages.toMap

    // each stage is materialized once: the gate/dedup frames feed several
    // downstream actions (the split, packing, the write), and without the
    // checkpoint every action re-runs the Gopher scan and the LSH
    // clustering — the same multiple-consumer lesson as q39/q40
    val scanned = docs.withColumn("w", TextAnalysis.tokens(col("text")))
      .observe(observed("raw"), count(lit(1)).as("d"), sum(size(col("w"))).as("t"))
    val quality = materialize(
      TextAnalysis.gopherGate(scanned).filter(col("keep") === 1)
        .select((docs.columns.toSeq :+ "n_words").map(col): _*),
      observed("quality"))

    val survivors = Dedup.resolveClusters(quality)
      .filter(col("keep") === 1).select("doc_id")
    val deduped = materialize(quality.join(survivors, "doc_id"), observed("deduped"))

    val split = TextAnalysis.trainValTest(deduped)
      .select(col("doc_id"), col("split"))
    val withSplit = materialize(deduped.join(split, "doc_id"), observed("train"),
      col("split") === "train")

    // the gate's n_words is each train document's token count already
    val train = withSplit.filter(col("split") === "train")
    val packed = TextAnalysis.packCounts(
        train.select(col("doc_id"), col("n_words").as("n_tokens")))
      .select(col("doc_id"), col("first_chunk").as("seq_id"))

    val fin = withSplit
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("split"), col("seq_id"))

    outDir.foreach { dir =>
      withSplit.select("doc_id", "text", "lang", "source", "n_chars", "split")
        .write.mode("overwrite").partitionBy("split").parquet(dir)
    }

    (stages.map { case (stage, o) => stage -> counted(o) }, fin)
  }

  /** `df` eagerly checkpointed, with `o` observing, in that same action,
    * the rows where `in` holds and the sum of their `n_words`. The
    * observation sits on top of the checkpointed plan, so it runs in the
    * action's result stage, where each row is counted once even when a
    * task is retried.
    */
  private def materialize(df: DataFrame, o: Observation,
                          in: Column = lit(true)): DataFrame =
    df.observe(o, count_if(in).as("d"), sum(when(in, col("n_words"))).as("t"))
      .localCheckpoint(true)

  /** An observation's (docs, tokens). A plan that needed no task (an
    * empty input) reports no metrics, and a sum over no row is null:
    * both read as 0.
    */
  private def counted(o: Observation): (Long, Long) = {
    val m = o.get
    def n(k: String): Long = m.get(k) match {
      case Some(v: Long) => v
      case _ => 0L
    }
    (n("d"), n("t"))
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
