package graft

import graft.examples.CurationPipeline
import graft.operators.TextAnalysis
import graft.tables.Tables
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed curation pipeline: every stage is an individually
  * hash-checked operator, so this spec pins only the PLUMBING — monotone
  * stage counts, gate consistency, split disjointness, packing coverage —
  * and that a repeated pass reuses the classes codegen compiled for it.
  */
class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val (counts, fin) = CurationPipeline.run(spark, TestSpark.sf0001)
  lazy val byStage = counts.toMap

  test("stage doc/token counts only shrink") {
    val order = Seq("raw", "quality", "deduped", "train")
    val ds = order.map(byStage(_)._1)
    val ts = order.map(byStage(_)._2)
    assert(ds.sliding(2).forall(p => p(0) >= p(1)), s"docs grew: $ds")
    assert(ts.sliding(2).forall(p => p(0) >= p(1)), s"tokens grew: $ts")
    assert(byStage("train")._1 > 0, "empty train split")
  }

  test("every surviving document passes the quality gate") {
    val surv = fin.select("doc_id")
    val failing = TextAnalysis.gopherRules(
      Tables.load(spark, TestSpark.sf0001, "documents"))
      .filter(col("keep") === 0).select("doc_id")
    assert(surv.join(failing, "doc_id").count() === 0)
  }

  test("splits partition the survivors: no doc in two splits, none lost") {
    val n = fin.count()
    assert(fin.select("doc_id").distinct().count() === n)
    val splitSum = fin.groupBy("split").count().collect().map(_.getLong(1)).sum
    assert(splitSum === n)
    assert(fin.filter(!col("split").isin("train", "val", "test")).count() === 0)
  }

  test("packing covers exactly the train split") {
    assert(fin.filter(col("split") === "train" && col("seq_id").isNull)
      .count() === 0, "train doc missing from packing")
    assert(fin.filter(col("split") =!= "train" && col("seq_id").isNotNull)
      .count() === 0, "non-train doc was packed")
  }

  test("packing the gate's n_words equals packing re-tokenized text") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val gated = TextAnalysis.gopherGate(docs.withColumn("w", TextAnalysis.tokens(col("text"))))
    val fromText = TextAnalysis.packSequences(gated)
    val fromCounts = TextAnalysis.packCounts(
      gated.select(col("doc_id"), col("n_words").as("n_tokens")))
    assert(fromCounts.schema === fromText.schema)
    val rows = fromText.orderBy("doc_id").collect().toSeq
    assert(rows.nonEmpty)
    assert(fromCounts.orderBy("doc_id").collect().toSeq === rows)
  }

  test("phrase search: adjacency is exact, overlaps count, gaps don't") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "merge join merge join table"),  // two occurrences, first at 0
      (2L, "merge scan join"),              // gap: no match
      (3L, "join merge"),                   // wrong order: no match
      (4L, "a merge join"),                 // one, at token offset 1
      (5L, "merge merge join"),             // one, at offset 1 (not 0)
      (6L, "")                              // empty text
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docs, Seq("merge", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L, 0L), (4L, 1L, 1L), (5L, 1L, 1L)))
    // a 3-word phrase chains a second positional join
    val tri = TextAnalysis.phraseSearch(
      Seq((9L, "fast sort merge join now sort merge join"))
        .toDF("doc_id", "text"),
      Seq("sort", "merge", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tri === Seq((9L, 2L, 1L)))
    // the scan (row-local HOF) form equals the index (positional join)
    // form on the same edge cases...
    val scan = TextAnalysis.phraseSearchScan(docs, Seq("merge", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sorted
    assert(scan === got.sorted)
    // ...and on the real corpus (the st_phrase twin rides this equality)
    val corpus = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val idx = TextAnalysis.phraseSearch(corpus)
      .collect().map(_.toString).sorted
    val scn = TextAnalysis.phraseSearchScan(corpus)
      .orderBy("doc_id").collect().map(_.toString).sorted
    assert(scn === idx)
    assert(idx.nonEmpty, "corpus phrase should match somewhere")
  }

  test("a warm pass in a fresh session runs at most its measured job count") {
    val sc = spark.sparkContext
    // a local property, not a job group: a group's description would
    // replace every action's call site
    val tag = "graft.test.ratchet"
    // a job is charged to the call site of the SQL action that started it,
    // wherever it was submitted from; a job outside any action, to its own
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.put(x.executionId.toString, x.description)
          case _ =>
        }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          jobs.add((String.valueOf(e.properties.getProperty("spark.sql.execution.id")),
            e.stageInfos.maxBy(_.stageId).name))
    }
    // warm: JIT and the codegen cache
    CurationPipeline.run(spark.newSession(), TestSpark.sf0001)
    sc.addSparkListener(counter)
    // every job a pass starts, also from the broadcast and shuffle-stage
    // threads, carries the local properties of the thread that called run
    sc.setLocalProperty(tag, "on")
    try CurationPipeline.run(spark.newSession(), TestSpark.sf0001)
    finally {
      sc.setLocalProperty(tag, null)
      TestSpark.drainBus(sc)
      sc.removeSparkListener(counter)
    }
    val bySite = jobs.toArray.toSeq.map {
      case (exec: String, stage: String) => Option(actions.get(exec)).getOrElse(stage)
    }.groupBy(identity).map { case (site, js) => s"${js.size} $site" }.toSeq.sorted
    bySite.foreach(info(_))
    // measured when the stage counts moved into the checkpoint actions;
    // the pass before ran 41 jobs. A change that adds a job to the pass
    // raises this bound and says why.
    assert(jobs.size <= 27, s"${jobs.size} jobs: ${bySite.mkString("; ")}")
  }

  /** Classes codegen compiled while `f` ran (cache misses, JVM-wide). */
  private def compiled(f: => Any): Long = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
  }

  test("a repeated pass compiles at most a quarter of a cold pass's classes") {
    // A session with artifact isolation on runs its tasks under a class
    // loader of its own, and the codegen cache is keyed on the loader: all
    // of its classes miss, so its count is the pass's cold count. Run
    // between the two measured passes, it also puts a pass's worth of other
    // classes through the cache, as other work does between two runs of a
    // job. The engine's sessions have isolation off (Bench.CodegenConf).
    def isolated() = {
      val s = spark.newSession()
      s.conf.set("spark.sql.artifact.isolation.enabled", "true")
      s
    }
    val out = TestSpark.tempDir("curation-codegen").toString
    val passes = Seq[(String, () => SparkSession, SparkSession => Any)](
      // as the benchmark runs it: a fresh session per pass, with the write
      ("CurationPipeline.run in a new session", () => spark.newSession(),
        s => CurationPipeline.run(s, TestSpark.sf0001, Some(out))._2.collect()),
      // every query of a stream runs in its own clone of the session
      ("st_time_window on one session", () => spark,
        s => SparkEntry.queries("st_time_window")(s, TestSpark.sf0001).count()))
    val counts = for ((what, session, pass) <- passes) yield {
      val first = compiled(pass(session()))
      val cold = compiled(pass(isolated()))
      val second = compiled(pass(session()))
      info(s"$what: $first classes compiled, $cold cold, then $second")
      (what, cold, second)
    }
    val recompiling = counts.filter { case (_, cold, second) => second * 4 > cold }
    assert(recompiling.isEmpty, recompiling.map { case (what, cold, second) =>
      s"$what: the second pass compiled $second classes, a cold pass $cold"
    }.mkString("; "))
  }
}
