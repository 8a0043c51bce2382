package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.apps.Apps
import graft.core.{MapReduceJob, MrApp}
import graft.examples.CurationPipeline
import graft.operators.{Dedup, TextAnalysis}
import graft.tables.Tables
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one `local[cores]` session, one closed-loop
  * client. It sets up the session three times (the first, from JVM
  * start, is the set-up figure), runs one cold pass and then warm passes of a workload's
  * operations for the requested time, checks each operation's output, and
  * writes a result record for `perfbench/run.py`.
  *
  * With --trace 1 the second half of the warm time runs traced: spans
  * around every pass, operation and layer call, Spark's listeners
  * attributed to them, and extra calls that split a workload by layer.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, work: String, cores: Int, plan: Seq[Seq[String]])

  final case class OpRec(name: String, pass: Int, secs: Double, ok: Boolean, err: String)

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  /** An operation's timed body returns the check run after the clock
    * stops: None when the output is right, else what was wrong.
    */
  type Check = () => Option[String]

  private var tracer: Tracer = null
  @volatile private var tracing = false

  /** A call into the engine; a span of its own in traced passes. */
  def call[T](name: String)(body: => T): T = if (tracing) tracer.span(name)(body) else body

  /** Called with every session a workload creates besides the main one,
    * so that its planning and stream progress are recorded too.
    */
  def newSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    if (tracing) tracer.watch(s)
    s
  }

  trait Workload {
    /** Reads the inputs the operations use, as part of set-up. */
    def register(spark: SparkSession): Unit = ()
    /** Untimed work before the first pass: expected outputs, mostly. */
    def prepare(spark: SparkSession): Unit = ()
    def run(spark: SparkSession, op: String, pass: Int): Check
    /** Oracle SQL for the results the cold pass wrote, by operation. */
    def oracles: Seq[(String, String)] = Nil
    /** Traced extra calls that split the workload by layer. */
    def layers(spark: SparkSession, tr: Tracer, out: mutable.Map[String, Double]): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val toMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    val work = Paths.get(a.work)
    Files.createDirectories(work)
    val wl: Workload = a.workload match {
      case "mapreduce" => new MapReduce(a, work)
      case "roster" => new Roster(a, Seq("region", "nation", "customer",
        "supplier", "part", "orders", "lineitem", "events"), work)
      case "curation" => new Curation(a, work)
      case w => sys.error(s"unknown workload: $w")
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val mem = ManagementFactory.getMemoryMXBean

    // set-up: JVM start to session ready with the inputs registered; then
    // twice more from a stopped session (setup.warm_s in a traced run).
    // Each is timed in wall and in process CPU seconds.
    def setupOnce(): SparkSession = {
      val s = session(a)
      wl.register(s)
      s
    }
    var spark = setupOnce()
    val setups = mutable.ArrayBuffer((toMain + (System.nanoTime() - t0) / 1e9, os.getProcessCpuTime / 1e9))
    for (_ <- 1 to 2) {
      spark.stop()
      val t = System.nanoTime()
      val c = os.getProcessCpuTime
      spark = setupOnce()
      setups += (((System.nanoTime() - t) / 1e9, (os.getProcessCpuTime - c) / 1e9))
    }
    wl.prepare(spark)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[(Int, String, Double, Double, Double)]

    // a pass's wall and CPU time are the sums over its operations' timed
    // bodies; output checks run between them, off the clock
    def runPass(k: Int, kind: String): Double = {
      val order = a.plan(k % a.plan.size)
      var wall = 0.0
      var cpu = 0.0
      def body(): Unit = order.foreach { op =>
        def timed(): Unit = {
          val c0 = os.getProcessCpuTime
          val s0 = System.nanoTime()
          val res = scala.util.Try(wl.run(spark, op, k))
          val secs = (System.nanoTime() - s0) / 1e9
          cpu += (os.getProcessCpuTime - c0) / 1e9
          wall += secs
          val err = res match {
            case scala.util.Success(check) =>
              scala.util.Try(check()) match {
                case scala.util.Success(problem) => problem
                case scala.util.Failure(e) => Some(s"check: ${describe(e)}")
              }
            case scala.util.Failure(e) => Some(describe(e))
          }
          ops += OpRec(op, k, secs, err.isEmpty, err.getOrElse(""))
          err.foreach(e => System.err.println(s"[perfbench] FAIL $op pass $k: $e"))
        }
        if (tracing) tracer.span(s"op:$op", drainAtEnd = true)(timed()) else timed()
      }
      if (tracing) tracer.span(s"pass:$k")(body()) else body()
      // live heap, off the clock: a trivial query (the last query of a
      // pass otherwise stays referenced until the next one runs, and which
      // query that is depends on the seeded order), a full collection, a
      // wait until Spark's cleaner has dropped the blocks, shuffles and
      // broadcasts whose owners just died, another collection
      spark.range(1).count()
      System.gc()
      org.apache.spark.BusAccess.drainCleaner(spark.sparkContext)
      System.gc()
      passes += ((k, kind, wall, cpu, mem.getHeapMemoryUsage.getUsed / 1e6))
      wall
    }

    runPass(0, "cold")
    // the first warm pass settles JIT and caches and counts toward no warm
    // figure: it used up to a fifth more CPU than the passes after it. A
    // settle count that grew with the number of passes made cpu_s depend
    // on how fast the host ran.
    var spent = runPass(1, "settle")
    var k = 2
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      // measured passes fill the rest of the window (at least two)
      while (spent < a.seconds || k <= 3) { spent += runPass(k, "warm"); k += 1 }
    } else {
      // untraced and traced warm passes alternate (u t t u u t t ...) so
      // both see the same JIT state; the difference is tracing overhead
      tracer = new Tracer(spark)
      val jit = ManagementFactory.getCompilationMXBean
      var jitMs, codegenNs, classes = 0L
      tracer.span(s"workload:${a.workload}") {
        while (spent < a.seconds || k <= 5) {
          if (k % 4 == 3 || k % 4 == 0) {
            val j0 = jit.getTotalCompilationTime
            val c0 = CodeGenerator.compileTime
            val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            tracer.attach()
            tracing = true
            spent += runPass(k, "traced")
            tracing = false
            tracer.detach()
            jitMs += jit.getTotalCompilationTime - j0
            codegenNs += CodeGenerator.compileTime - c0
            classes += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
          } else spent += runPass(k, "warm")
          k += 1
        }
      }
      val tracedWall = passes.filter(_._2 == "traced").map(_._3).toSeq
      val n = tracedWall.size.toDouble
      val c = tracer.rollup(_.name.startsWith("pass:"))
      c.v.foreach { case (key, x) => layers(key) = if (key == "shuffle.skew") x else x / n }
      layers("jvm.jit_s") = jitMs / 1e3 / n
      layers("codegen.compile_s") = codegenNs / 1e9 / n
      layers("codegen.classes") = classes / n
      layers("sched.busy_frac") = c.v("exec.run_s") / (tracedWall.sum * a.cores)
      layers("setup.wall_s") = setups.head._1
      layers("setup.warm_s") = median(setups.tail.map(_._1).toSeq)
      layers("wall.cold_pass_s") = passes.head._3
      layers("wall.pass_s") = median(passes.filter(_._2 == "warm").map(_._3).toSeq)
      val warmOps = ops.filter(o => passes.exists(p => p._1 == o.pass && p._2 == "warm"))
        .map(_.secs).toSeq.sorted
      layers("ops.p50_s") = quantile(warmOps, 0.5)
      layers("ops.p90_s") = quantile(warmOps, 0.9)
      layers("ops.samples") = warmOps.size
      tracer.attach()
      tracing = true
      wl.layers(spark, tracer, layers)
      tracing = false
      tracer.detach()
      val plain = median(passes.filter(_._2 == "warm").map(_._3).toSeq)
      val traced = median(tracedWall)
      layers("trace.pass_s") = traced
      layers("trace.untraced_pass_s") = plain
      layers("trace.overhead_frac") = traced / plain - 1
      tracer.write(work.resolve("spans.jsonl"))
    }

    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).filterNot(_._1 == "spark.driver.port")
    spark.stop()

    // the bounded figures are the ones host CPU steal cannot inflate (CPU
    // seconds, bytes) plus set-up; wall times are in the record and in
    // the per-layer list
    val warm = passes.filter(_._2 == "warm")
    val warmOps = ops.filter(o => warm.exists(_._1 == o.pass)).map(_.secs).toSeq.sorted
    val metrics = Seq(
      // set-up in CPU seconds: JVM start, class loading and session
      // start are fixed work, and their wall time moved with host steal
      "setup_s" -> setups.head._2,
      "cold_cpu_s" -> passes.head._4,
      "cpu_s" -> median(warm.map(_._4).toSeq),
      // the largest, so that heap which grows from pass to pass shows
      "heap_peak_mb" -> warm.map(_._5).max,
      "pass_s" -> median(warm.map(_._3).toSeq),
      "cold_pass_s" -> passes.head._3,
      "op_p50_s" -> quantile(warmOps, 0.5))
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "setups_s" -> Json.arr(setups.toSeq.map(x => Json.num(x._1))),
      "setups_cpu_s" -> Json.arr(setups.toSeq.map(x => Json.num(x._2))),
      "passes" -> Json.arr(passes.toSeq.map { case (p, kind, w, c, h) =>
        Json.obj(Seq("pass" -> p.toString, "kind" -> Json.str(kind), "wall_s" -> Json.num(w),
          "cpu_s" -> Json.num(c), "heap_mb" -> Json.num(h)))
      }),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq("name" -> Json.str(o.name),
        "pass" -> o.pass.toString, "secs" -> Json.num(o.secs), "ok" -> o.ok.toString,
        "err" -> Json.str(o.err))))),
      "op_samples" -> warmOps.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v) => n -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.map { case (n, v) => n -> Json.num(v) }),
      "oracles" -> Json.obj(wl.oracles.map { case (n, sql) => n -> Json.str(sql) }),
      "spark_conf" -> Json.obj(conf.map { case (kk, v) => kk -> Json.str(v) }),
      "jdk" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6)))
    Files.write(work.resolve("result.json"), json.getBytes("UTF-8"))
  }

  /** The engine's own bench session; run.py sets SPARK_GRAFT_CPUS to the
    * core count and SPARK_GRAFT_LOCAL_DIR to a directory in the checkout.
    */
  def session(a: Args): SparkSession = {
    val s = graft.Bench.session(s"perfbench-${a.workload}")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = Files.readAllLines(Paths.get(m("plan"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toSeq)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("work"), m("cores").toInt, plan)
  }

  // ---------------------------------------------------------------- mapreduce

  /** `MapReduceJob(app).run` + `writeOutput` (the MrRun path, nReduce=10)
    * over the seeded 8-file corpus; each output is compared, sorted, with
    * `MapReduceJob.sequential` on the same files.
    */
  final class MapReduce(a: Args, work: Path) extends Workload {
    private val corpus = Paths.get(a.inputs, "corpus")
    private val input = corpus.toString
    private val apps: Map[String, MrApp] = Map("wc" -> Apps.WordCount, "indexer" -> Apps.Indexer)
    private var expected = Map.empty[String, Seq[String]]
    private var sequentialSecs = 0.0

    override def prepare(spark: SparkSession): Unit = {
      // the file names the map phase sees, so the indexer's doc lists match
      val names = spark.read.text(input).select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      val files = names.toSeq.sorted.map { n =>
        n -> new String(Files.readAllBytes(corpus.resolve(n.split('/').last)), "UTF-8")
      }
      val t = System.nanoTime()
      expected = apps.map { case (k, app) => k -> MapReduceJob.sequential(app, files).sorted }
      sequentialSecs = (System.nanoTime() - t) / 1e9
    }

    def run(spark: SparkSession, op: String, pass: Int): Check = {
      val job = MapReduceJob(apps(op), nReduce = 10)
      val out = work.resolve(s"mr-out-$op")
      val result = call("MapReduceJob.run")(job.run(spark, input))
      call("MapReduceJob.writeOutput")(job.writeOutput(result, out.toString))
      () => {
        val parts = Files.list(out).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
        val got = parts.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty).sorted
        if (!Files.exists(out.resolve("_SUCCESS"))) Some("no _SUCCESS marker")
        else if (got != expected(op))
          Some(s"output differs from MapReduceJob.sequential: ${got.size} vs ${expected(op).size} lines")
        else None
      }
    }

    override def layers(spark: SparkSession, tr: Tracer, out: mutable.Map[String, Double]): Unit = {
      out("core.map_s") = out.getOrElse("stage.map_s", 0.0)
      out("core.map_kv") = out.getOrElse("stage.map_kv", 0.0)
      out("core.reduce_s") = out.getOrElse("stage.reduce_s", 0.0)
      out("core.groups") = out.getOrElse("stage.reduce_out", 0.0)
      out("core.sink_s") = out.getOrElse("stage.sink_s", 0.0)
      out("core.sequential_s") = sequentialSecs
    }
  }

  // ----------------------------------------------------------------- roster

  /** Roster entries (`SparkEntry.queries`). The cold pass writes each
    * result as parquet (the `Verify` path), which `run.py` compares with
    * the entry's DuckDB oracle; warm passes force it with `count()`, which
    * must equal the written row count.
    */
  final class Roster(a: Args, tables: Seq[String], work: Path) extends Workload {
    private val names = a.plan.head.distinct
    private val roster = graft.SparkEntry.queries
    private val oracle = graft.SparkEntry.oracleSql
    private val rows = mutable.Map.empty[String, Long]
    private def dump(op: String) = work.resolve("verify").resolve(op).toString

    override def register(spark: SparkSession): Unit =
      tables.foreach(Tables.load(spark, a.inputs, _))

    def run(spark: SparkSession, op: String, pass: Int): Check = {
      val df = call("SparkEntry.queries")(roster(op)(spark, a.inputs))
      if (pass == 0) {
        call("write.parquet")(df.write.mode("overwrite").parquet(dump(op)))
        () => { rows(op) = spark.read.parquet(dump(op)).count(); None }
      } else {
        val n = call("count")(df.count())
        () => rows.get(op).filter(_ != n).map(m => s"row count $n, written result has $m")
      }
    }

    override def oracles: Seq[(String, String)] = names.map(op => op -> oracle.getOrElse(op, ""))

    override def layers(spark: SparkSession, tr: Tracer, out: mutable.Map[String, Double]): Unit =
      if (names.exists(_.startsWith("st_"))) {
        val twin = (sp: Span) => sp.name.startsWith("op:st_")
        val wall = tr.spansNamed(twin).map(s => (s.end - s.start) / 1e9).sum
        val n = tr.spansNamed(_.name.startsWith("pass:")).size.toDouble
        out("streaming.finalize_s") = (wall - tr.rollup(twin).v("streaming.query_life_s")) / n
        val floors = (1 to 3).map { _ =>
          val t = System.nanoTime()
          tr.span("layer:streaming.floor")(graft.streaming.EventStream.harnessFloorProbe(spark, a.inputs))
          (System.nanoTime() - t) / 1e9
        }
        out("streaming.floor_s") = median(floors)
      }
  }

  // ---------------------------------------------------------------- curation

  /** `CurationPipeline.run(spark, dir, Some(out))` in a fresh session per
    * operation (a new pipeline run: its own table scans and memo store),
    * checked against the CurationPipelineSpec invariants and against the
    * first pass's stage counts.
    */
  final class Curation(a: Args, work: Path) extends Workload {
    private var firstCounts: Option[Seq[(String, (Long, Long))]] = None

    def run(spark: SparkSession, op: String, pass: Int): Check = {
      val s = newSession(spark)
      val (counts, fin) = call("CurationPipeline.run") {
        CurationPipeline.run(s, a.inputs, Some(work.resolve("curated").toString))
      }
      call("collect")(fin.groupBy("split").count().collect())
      () => check(counts, fin)
    }

    private def check(counts: Seq[(String, (Long, Long))], fin: DataFrame): Option[String] = {
      val ds = counts.map(_._2._1)
      val ts = counts.map(_._2._2)
      val r = fin.agg(count(lit(1)), countDistinct(col("doc_id")),
        sum(when(col("split") === "train" && col("seq_id").isNull, 1).otherwise(0)),
        sum(when(col("split") =!= "train" && col("seq_id").isNotNull, 1).otherwise(0)),
        sum(when(!col("split").isin("train", "val", "test"), 1).otherwise(0))).head()
      val problems = Seq(
        (ds.sliding(2).exists(p => p(0) < p(1))) -> s"doc counts grew: $ds",
        (ts.sliding(2).exists(p => p(0) < p(1))) -> s"token counts grew: $ts",
        (counts.last._2._1 == 0) -> "empty train split",
        (r.getLong(0) != r.getLong(1)) -> "a doc appears in two splits",
        (r.getLong(0) != counts.find(_._1 == "deduped").get._2._1) -> "splits lost docs",
        (r.getLong(2) != 0) -> "train doc missing from packing",
        (r.getLong(3) != 0) -> "non-train doc was packed",
        (r.getLong(4) != 0) -> "unknown split",
        firstCounts.exists(_ != counts) -> s"stage counts changed: $counts vs $firstCounts")
      if (firstCounts.isEmpty) firstCounts = Some(counts)
      problems.collectFirst { case (true, msg) => msg }
    }

    override def layers(spark: SparkSession, tr: Tracer, out: mutable.Map[String, Double]): Unit = {
      // the pipeline's public stages one by one, in a fresh session so the
      // memo store builds instead of reading
      val s = newSession(spark)
      def timed[T](name: String)(body: => T): T = {
        val t = System.nanoTime()
        val r = tr.span(s"layer:$name")(body)
        out(name) = (System.nanoTime() - t) / 1e9
        r
      }
      val docs = Tables.load(s, a.inputs, "documents")
      val quality = timed("operators.gopher_s") {
        val keep = TextAnalysis.gopherRules(docs).filter(col("keep") === 1).select("doc_id")
        docs.join(keep, "doc_id").localCheckpoint(true)
      }
      timed("memo.sig_build_s")(Dedup.minhashSignatures(quality))
      val pairs = timed("memo.pairs_build_s")(Dedup.minhashLshPairs(quality))
      out("operators.lsh_pairs") = pairs.count().toDouble
      val deduped = timed("operators.dedup_s") {
        val survivors = Dedup.resolveClusters(quality).filter(col("keep") === 1).select("doc_id")
        quality.join(survivors, "doc_id").localCheckpoint(true)
      }
      out("operators.dedup_keep_frac") = deduped.count().toDouble / quality.count()
      val withSplit = timed("operators.split_s") {
        val split = TextAnalysis.trainValTest(deduped).select(col("doc_id"), col("split"))
        deduped.join(split, "doc_id").localCheckpoint(true)
      }
      timed("operators.pack_s") {
        TextAnalysis.packSequences(withSplit.filter(col("split") === "train")).count()
      }
      timed("operators.write_s") {
        withSplit.select("doc_id", "text", "lang", "source", "n_chars", "split")
          .write.mode("overwrite").partitionBy("split").parquet(work.resolve("curated-layers").toString)
      }
    }
  }
}
