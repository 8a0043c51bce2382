package graft

import graft.apps.Apps
import graft.core.{KV, MapReduceJob, MrApp}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** Differential tests mirroring the reference's methodology
  * (src/main/test-mr.sh): the distributed engine's sorted output multiset
  * must byte-match the sequential golden oracle
  * (src/main/mrsequential.go:38-87, ported as MapReduceJob.sequential).
  */
class MrEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val files = TestSpark.corpus()

  def distributedLines(app: MrApp, fs: Seq[(String, String)] = files): Seq[String] =
    MapReduceJob(app).runOn(spark, fs)
      .collect().map(kv => s"${kv.key} ${kv.value}").toSeq.sorted

  def check(app: MrApp): Unit = {
    val expected = MapReduceJob.sequential(app, files).sorted
    val got = distributedLines(app)
    assert(got === expected)
  }

  test("wc matches sequential oracle")(check(Apps.WordCount))
  test("indexer matches sequential oracle")(check(Apps.Indexer))
  test("nocrash matches sequential oracle")(check(Apps.NoCrash))
  test("early_exit matches sequential oracle")(check(Apps.EarlyExit))
  test("rtiming matches sequential oracle")(check(Apps.ReduceTiming))

  /** The first 8 corpus files written out as real files; returns the
    * directory.
    */
  def writeCorpus(): Path = {
    val dir = TestSpark.tempDir("graft-mr-in")
    files.take(8).foreach { case (name, contents) =>
      Files.write(dir.resolve(name), contents.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** Each part file's non-empty lines, by file name. */
  def partFiles(out: Path): Map[String, Seq[String]] =
    Files.list(out).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n")
          .filter(_.nonEmpty).toSeq)
      .toMap

  test("wc end-to-end through real files and text sink") {
    val dir = writeCorpus()
    val out = TestSpark.tempDir("graft-mr-out").resolve("wc")
    val job = MapReduceJob(Apps.WordCount)
    val result = job.run(spark, dir.toString + "/*")
    job.writeOutput(result, out.toString)
    // sort across all part files, like `sort mr-out* | grep .`
    // (src/main/test-mr.sh:103-111)
    val gotLines = partFiles(out).values.flatten.toSeq.sorted
    val fullPaths = files.take(8).map { case (n, c) => (dir.resolve(n).toUri.toString, c) }
    val expected = MapReduceJob.sequential(Apps.WordCount, fullPaths).sorted
    assert(gotLines === expected)
  }

  test("output layout: one key-sorted part file per non-empty reduce bucket") {
    // the reference's reduce task X writes mr-out-X with its keys in sorted
    // order (src/mr/worker.go:181-216)
    val out = TestSpark.tempDir("graft-mr-out").resolve("layout")
    val job = MapReduceJob(Apps.WordCount, nReduce = 4)
    job.writeOutput(job.runOn(spark, files), out.toString)
    assert(Files.exists(out.resolve("_SUCCESS")))
    val parts = partFiles(out)
    assert(parts.nonEmpty && parts.size <= 4)
    val keys = parts.map { case (f, lines) => f -> lines.map(_.split(" ", 2)(0)) }
    // strictly increasing in Spark's string order (UTF-8 bytes, unsigned)
    keys.foreach { case (f, ks) =>
      val sorted = ks.map(_.getBytes(StandardCharsets.UTF_8)).sliding(2).forall {
        case Seq(a, b) => java.util.Arrays.compareUnsigned(a, b) < 0
        case _ => true
      }
      assert(sorted, s"$f is not in key order")
    }
    val all = keys.values.flatten.toSeq
    assert(all.distinct.size === all.size, "a key appears in two part files")
    assert(parts.values.flatten.toSeq.sorted ===
      MapReduceJob.sequential(Apps.WordCount, files).sorted)
  }

  /** Every shuffle exchange of an executed plan, through AQE query stages
    * and the write command's own physical plan.
    */
  def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case e: ShuffleExchangeExec => e +: exchanges(e.child)
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case o => o.children.flatMap(exchanges)
  }

  test("shuffle shape: one exchange of per-file (key, values) rows") {
    val dir = writeCorpus()
    val out = TestSpark.tempDir("graft-mr-out").resolve("shape")
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val job = MapReduceJob(Apps.WordCount)
    var shuffles = Seq.empty[ShuffleExchangeExec]
    try {
      job.writeOutput(job.run(spark, dir.toString + "/*"), out.toString)
      // the listener bus delivers asynchronously; the write's plan is the
      // one that contains its exchange
      val deadline = System.nanoTime() + 30e9.toLong
      while (shuffles.isEmpty && System.nanoTime() < deadline)
        Option(plans.poll(1, java.util.concurrent.TimeUnit.SECONDS))
          .foreach(p => shuffles = exchanges(p))
    } finally spark.listenerManager.unregister(listener)
    val tokens = files.take(8).map { case (f, c) => Apps.WordCount.map(f, c) }
    val rows = tokens.map(_.map(_.key).distinct.size).sum
    assert(rows < tokens.map(_.size).sum)
    assert(shuffles.size === 1)
    assert(shuffles.head.metrics("shuffleRecordsWritten").value === rows)
  }

  test("reduce receives the full materialized value list (list semantics)") {
    // An order-insensitive but list-shaped reducef: joined sorted values.
    val probe = new MrApp {
      val name = "probe"
      def map(f: String, c: String): Seq[KV] =
        c.split(" ").toSeq.map(w => KV(w.take(1), w))
      def reduce(k: String, vs: Seq[String]): String = vs.sorted.mkString("|")
    }
    val data = Seq(("f1", "apple avocado banana"), ("f2", "apricot berry"))
    val got = distributedLines(probe, data)
    val expected = MapReduceJob.sequential(probe, data).sorted
    assert(got === expected)
    assert(got.exists(_.startsWith("a apple|apricot|avocado")))
  }

  test("grouped map output keeps every value: duplicates, one-file keys, empty map, empty key") {
    // contents are space-separated "key:value" pairs
    val probe = new MrApp {
      val name = "pairs"
      def map(f: String, c: String): Seq[KV] =
        c.split(" ").toSeq.filter(_.nonEmpty).map { t =>
          val i = t.indexOf(':')
          KV(t.take(i), t.drop(i + 1))
        }
      def reduce(k: String, vs: Seq[String]): String = vs.sorted.mkString("|")
    }
    val data = Seq(
      ("f1", "dup:x only:a dup:x :e1"),
      ("f2", "dup:y :e2 dup:x"),
      ("f3", ""))
    val got = distributedLines(probe, data)
    assert(got === MapReduceJob.sequential(probe, data).sorted)
    assert(got === Seq(" e1|e2", "dup x|x|x|y", "only a"))
  }
}
