package graft

import graft.apps.Apps
import graft.core.{KV, MapReduceJob, MrApp}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Dataset, GraftShims}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.{immutable, mutable}

/** Executor-side fault for the writer's retry case: the first attempt of
  * each reduce task throws at its second reduce call, when the writer has
  * its part file open; the retry succeeds. A task of any stage after the
  * first one seen is a reduce task, because no reduce task starts before
  * the map stage has ended. Valid in local mode, where the executors
  * share this JVM.
  */
object ReduceFault {
  private val mapStage = new AtomicInteger(-1)
  private val calls = new ConcurrentHashMap[Integer, AtomicInteger]()
  val failed: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()

  def reset(): Unit = { mapStage.set(-1); calls.clear(); failed.clear() }

  def hook(): Unit = {
    val ctx = TaskContext.get()
    val p = Integer.valueOf(ctx.partitionId())
    mapStage.compareAndSet(-1, ctx.stageId())
    if (ctx.stageId() != mapStage.get && ctx.attemptNumber() == 0 &&
        calls.computeIfAbsent(p, _ => new AtomicInteger()).incrementAndGet() == 2) {
      failed.add(p)
      throw new RuntimeException(s"injected reduce fault: partition $p")
    }
  }
}

/** The value-order probe of the run tests: contents are space-separated
  * "key:value" tokens, where the value "~" is null; reduce joins its
  * values in received order, nulls as "~".
  */
object JoinedApp extends MrApp {
  val name = "joined"
  def map(f: String, c: String): Seq[KV] =
    c.split(" ").toSeq.filter(_.nonEmpty).map { t =>
      val i = t.indexOf(':')
      val v = t.drop(i + 1)
      KV(t.take(i), if (v == "~") null else v)
    }
  def reduce(k: String, vs: Seq[String]): String =
    vs.map(v => if (v == null) "~" else v).mkString(",")
}

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

  /** `text` `repeat` times over, one copy per line. */
  def repeated(text: String, repeat: Int): String = Seq.fill(repeat)(text).mkString("\n")

  /** The first 8 corpus files written out as real files, each file's
    * text `repeat` times over; returns the directory.
    */
  def writeCorpus(repeat: Int = 1): Path = {
    val dir = TestSpark.tempDir("graft-mr-in")
    files.take(8).foreach { case (name, contents) =>
      Files.write(dir.resolve(name), repeated(contents, repeat).getBytes(StandardCharsets.UTF_8))
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
    // book-length files, as the reference's pg-*.txt inputs: each word
    // recurs, so its "1"s are one run per file
    val repeat = 100
    val dir = writeCorpus(repeat)
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
    val tokens = files.take(8).map { case (f, c) => Apps.WordCount.map(f, repeated(c, repeat)) }
    val rows = tokens.map(_.map(_.key).distinct.size).sum
    val nTokens = tokens.map(_.size).sum
    assert(rows < nTokens)
    assert(shuffles.size === 1)
    assert(shuffles.head.metrics("shuffleRecordsWritten").value === rows)
    // one "1" per token costs bytes per token; a run costs bytes per row
    val bytes = shuffles.head.metrics("shuffleBytesWritten").value
    assert(bytes < nTokens, s"$bytes shuffle bytes for $nTokens tokens")
  }

  /** The writer `writeOutput` replaced, kept as the reference for its
    * output: the same line frame through `write.mode("overwrite").text`.
    */
  def referenceWrite(result: Dataset[KV], outDir: Path): Unit =
    result.select(concat_ws(" ", col("key"), col("value")).as("value"))
      .write.mode("overwrite").text(outDir.toString)

  private val PartName =
    "part-(\\d{5})-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})-c000\\.txt".r

  /** The names in `out` that are not hidden (`.crc` files are). */
  def visible(out: Path): Seq[String] =
    Files.list(out).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted

  /** Each non-empty part file's bytes, by its partition number. */
  def partBytes(out: Path): Map[Int, Seq[Byte]] =
    visible(out).collect { case n @ PartName(p, _) => p.toInt -> Files.readAllBytes(out.resolve(n)).toSeq }
      .filter(_._2.nonEmpty).toMap

  for (app <- Seq(Apps.WordCount, Apps.Indexer); n <- Seq(4, 10))
    test(s"writer: ${app.name} at nReduce $n writes the reference's part files, byte for byte") {
      val dir = TestSpark.tempDir("graft-mr-writer")
      val job = MapReduceJob(app, nReduce = n)
      val result = job.runOn(spark, files)
      job.writeOutput(result, dir.resolve("got").toString)
      referenceWrite(result, dir.resolve("ref"))
      val got = dir.resolve("got")
      val parts = visible(got).filter(_ != "_SUCCESS")
      assert(visible(got).contains("_SUCCESS"))
      assert(parts.nonEmpty && parts.size <= n)
      parts.foreach(f => assert(PartName.matches(f), s"$f is not a part file name"))
      assert(parts.map { case PartName(_, uuid) => uuid }.distinct.size === 1,
        "one write's part files carry one job id")
      assert(partBytes(got) === partBytes(dir.resolve("ref")))
      assert(partFiles(got).values.flatten.toSeq.sorted ===
        MapReduceJob.sequential(app, files).sorted)
    }

  test("writer: an outDir holding stale files is replaced") {
    val out = TestSpark.tempDir("graft-mr-stale").resolve("out")
    Files.createDirectories(out.resolve("_temporary").resolve("0"))
    Files.write(out.resolve("part-00000-00000000-0000-0000-0000-000000000000-c000.txt"),
      "stale 1\n".getBytes(StandardCharsets.UTF_8))
    Files.write(out.resolve("notes.txt"), "old".getBytes(StandardCharsets.UTF_8))
    val job = MapReduceJob(Apps.WordCount, nReduce = 4)
    job.writeOutput(job.runOn(spark, files), out.toString)
    assert(!visible(out).exists(f => f == "notes.txt" || f == "_temporary" || f.contains("00000000-0000")))
    assert(partFiles(out).values.flatten.toSeq.sorted ===
      MapReduceJob.sequential(Apps.WordCount, files).sorted)
  }

  test("writer: a result with no rows leaves _SUCCESS and no part file") {
    val out = TestSpark.tempDir("graft-mr-empty").resolve("out")
    Files.createDirectories(out)
    Files.write(out.resolve("part-00001-00000000-0000-0000-0000-000000000000-c000.txt"),
      "stale 1\n".getBytes(StandardCharsets.UTF_8))
    val job = MapReduceJob(Apps.WordCount, nReduce = 4)
    val result = job.runOn(spark, Seq(("f1", "123 456"), ("f2", "")))
    assert(result.count() === 0)
    job.writeOutput(result, out.toString)
    assert(visible(out) === Seq("_SUCCESS"))
  }

  test("writer: a reduce attempt that throws mid-file is aborted; the retry commits NoCrash's bytes") {
    val dir = TestSpark.tempDir("graft-mr-crash")
    ReduceFault.reset()
    // NoCrash's 4 keys in 2 partitions: at least one partition reduces two
    val crash = MapReduceJob(new Apps.Crash(() => ReduceFault.hook()), nReduce = 2)
    crash.writeOutput(crash.runOn(spark, files), dir.resolve("got").toString)
    assert(!ReduceFault.failed.isEmpty, "no reduce attempt failed")
    referenceWrite(MapReduceJob(Apps.NoCrash, nReduce = 2).runOn(spark, files), dir.resolve("ref"))
    val got = dir.resolve("got")
    assert(visible(got).contains("_SUCCESS"))
    assert(!Files.exists(got.resolve("_temporary")))
    assert(partBytes(got) === partBytes(dir.resolve("ref")))
  }

  test("writer: the per-task function carries the broadcast, not the Hadoop conf") {
    val out = TestSpark.tempDir("graft-mr-guard").resolve("out")
    val conf = Job.getInstance(GraftShims.newHadoopConf(spark)).getConfiguration
    val confBytes = new java.io.ByteArrayOutputStream()
    conf.write(new java.io.DataOutputStream(confBytes))
    val committer = FileCommitProtocol.instantiate(GraftShims.fileCommitProtocolClass(spark),
      java.util.UUID.randomUUID.toString, out.toUri.toString)
    val shipped = GraftShims.broadcastConf(spark.sparkContext, conf)
    try {
      val task = new java.io.ByteArrayOutputStream()
      val os = new java.io.ObjectOutputStream(task)
      os.writeObject(MapReduceJob.partWriter(committer, shipped, GraftShims.jobTrackerId()))
      os.close()
      // the bound tells the two apart: the conf alone is far larger
      assert(confBytes.size > 64 * 1024, s"conf is ${confBytes.size} bytes")
      assert(task.size < 16 * 1024, s"per-task writer is ${task.size} bytes")
    } finally shipped.destroy()
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

  /** The map and reduce phases before values crossed the shuffle as runs,
    * kept as the reference for `runOn`: one `(key, values)` row per (file,
    * key) with every value its own element, and a reduce that concatenates
    * adjacent rows' values.
    */
  def referenceRunOn(app: MrApp, nReduce: Int, fs: Seq[(String, String)]): Dataset[KV] = {
    import spark.implicits._
    spark.createDataset(fs).flatMap { case (file, contents) =>
      val groups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuilder[String]]
      app.map(file, contents).foreach { kv =>
        groups.getOrElseUpdate(kv.key, Array.newBuilder[String]) += kv.value
      }
      groups.iterator.map { case (k, vs) => (k, vs.result()) }
    }
      .repartition(nReduce, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions { it =>
        new Iterator[KV] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): KV = {
            val k = buf.head._1
            val values = Array.newBuilder[String]
            while (buf.hasNext && buf.head._1 == k) values ++= buf.next()._2
            KV(k, app.reduce(k, immutable.ArraySeq.unsafeWrapArray(values.result())))
          }
        }
      }
  }

  test("map phase: a key's values become runs of equal adjacent values, in emitted order") {
    import spark.implicits._
    val rows = MapReduceJob(JoinedApp).mapPhase(
      spark.createDataset(Seq(("f", "a:a a:a a:b a:a n:~ n:~ k:v n:w"))))
      .collect().map { case (k, vs, cs) => (k, vs.toSeq, cs.toSeq) }.toSeq
    assert(rows === Seq(
      ("a", Seq("a", "b", "a"), Seq(2, 1, 1)),
      ("n", Seq(null, "w"), Seq(2, 1)),
      ("k", Seq("v"), Seq(1))))
  }

  for (n <- Seq(1, 4))
    test(s"runs: at nReduce $n reducef receives the reference's values in the reference's order") {
      val big = Seq.fill(100000)("big:x").mkString(" ")
      val data = Seq(
        ("f1", "a:x a:x a:y a:x n:~ n:~ n:v n:~ solo:z e: e: e:q"),
        ("f2", s"a:y n:~ $big a:x big:y one:w big:x"),
        ("f3", s"$big n:~ n:~"),
        ("f4", ""))
      val got = MapReduceJob(JoinedApp, nReduce = n).runOn(spark, data).collect().toSeq
      assert(got === referenceRunOn(JoinedApp, n, data).collect().toSeq)
      val byKey = got.map(kv => kv.key -> kv.value).toMap
      assert(byKey("solo") === "z" && byKey("one") === "w")
      assert(byKey("big").split(",").length === 200002)
      assert(got.map(_.key).sorted === MapReduceJob.sequential(JoinedApp, data).map(_.split(" ", 2)(0)))
    }
}
