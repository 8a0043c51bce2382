package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.OutputMode

/** The measuring main: one entry point for per-entry probes, on the literal
  * bench session (Bench.session) with the bench's own q01 warm-up and timer,
  * so a probe reads the configuration the official bench runs. Bench totals
  * on a contended box swing ±40%; warm repeats of ONE entry isolate a plan
  * change from that noise.
  *
  *   sbt "runMain graft.tools.Probe <mode> <selector[,selector...]> <sfDir> [extra]"
  *   sbt "runMain graft.tools.Probe floor <sfDir>"
  *
  * A selector picks every entry whose name starts with it — roster entries
  * (SparkEntry.queries) for all modes but `build`, which selects memo
  * warmers (SparkEntry.memoWarmers). A selector that matches nothing exits
  * 2 before any session starts. Modes:
  *  - `time`: three warm `[time] <name> runN <s> s classes=<n> codegen=<s> s`
  *    lines per entry: wall time, and the classes codegen compiled and its
  *    compile seconds during the run, so a run that recompiles what an
  *    earlier run compiled shows as classes > 0;
  *  - `build`: each selected memo build forced once, timed, on the fresh
  *    memo a new JVM has (`[build]` lines), in dependency order. What a
  *    build owns is not declared (Bench records it with
  *    [[graft.core.Memo.builtBy]]), so a build selected without the ones
  *    before it also times the dependencies it builds;
  *  - `jobs`: per-JOB breakdown of one warm run (`[job]` lines: wall
  *    duration, stages and task counts) — tells "one join is slow" from
  *    "20 fixed-cost jobs at 0.2 s each", which no end-to-end timer can;
  *  - `plan`: `.explain("formatted")` of each entry to `<extra>/<name>.txt`,
  *    the committed plan evidence (AQE initial-plan framing; entries that
  *    run actions inside their definition dump the returned frame's plan);
  *  - `floor`: phases of the streaming harness floor every `st_*` entry
  *    pays (plan, start, drain, stop of a global count into a memory sink);
  *  - `scale`: each entry at `<sfDir>` and at `<extra>` (default
  *    target/scale/sf1, from tools/gen_scale.py), memo builds forced once
  *    per dir, two runs each; `SCALE` lines for tools/scaling_report.py.
  */
object Probe {

  final case class Request(mode: String, names: Seq[String], dir: String,
                           extra: Option[String])

  /** How many arguments each selector mode takes after `<sfDir>`. */
  private val Extras = Map("time" -> (0 to 0), "build" -> (0 to 0),
    "jobs" -> (0 to 0), "plan" -> (1 to 1), "scale" -> (0 to 1))
  val TimeReps = 3
  val FloorReps = 5

  /** Entries of `universe` (in its order) starting with any selector, or
    * the selectors that match nothing.
    */
  def select(universe: Seq[String],
             selectors: Seq[String]): Either[Seq[String], Seq[String]] = {
    val unknown = selectors.filterNot(s => universe.exists(_.startsWith(s)))
    if (unknown.nonEmpty) Left(unknown)
    else Right(universe.filter(n => selectors.exists(n.startsWith)))
  }

  /** Validates the command line; needs no session. */
  def parse(args: Seq[String]): Either[String, Request] = args match {
    case Seq("floor", dir) => Right(Request("floor", Nil, dir, None))
    case Seq(mode, sel, dir, rest @ _*)
        if Extras.get(mode).exists(_.contains(rest.size)) =>
      val universe =
        if (mode == "build") SparkEntry.memoWarmers.map(_._1)
        else SparkEntry.queries.keys.toSeq.sorted
      select(universe, sel.split(',').toSeq) match {
        case Left(unknown) =>
          Left(s"no $mode entry matches: ${unknown.mkString(", ")}")
        case Right(names) => Right(Request(mode, names, dir, rest.headOption))
      }
    case _ => Left("usage: Probe <time|build|jobs|plan|scale> " +
      "<selector[,selector...]> <sfDir> [outDir|bigDir] | Probe floor <sfDir>")
  }

  def main(args: Array[String]): Unit = {
    val r = parse(args.toSeq) match {
      case Right(r) => r
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = Bench.session(s"graft-probe-${r.mode}")
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmUp(spark, r.dir)
    r.mode match {
      case "time"  => time(spark, r.dir, r.names)
      case "build" => build(spark, r.dir, r.names)
      case "jobs"  => jobs(spark, r.dir, r.names)
      case "plan"  => plan(spark, r.dir, r.names, r.extra.get)
      case "floor" => floor(spark, r.dir)
      case "scale" =>
        scale(spark, r.dir, r.names, r.extra.getOrElse("target/scale/sf1"))
    }
    spark.stop()
  }

  /** Bench's timer, rethrowing: a probe stops at a failing entry. */
  private def timed[A](f: => A): (Double, A) = {
    val (secs, r) = Bench.timed(f)
    (secs, r.toTry.get)
  }

  private def count(spark: SparkSession, dir: String, name: String): Double =
    timed(SparkEntry.queries(name)(spark, dir).count())._1

  def time(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    for (name <- names; i <- 1 to TimeReps) {
      // global counters: a compile on an executor thread counts as well
      val (n0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val secs = count(spark, dir, name)
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      val compileSecs = (CodeGenerator.compileTime - ns0) / 1e9
      println(f"[time] $name run$i $secs%.2f s classes=$classes codegen=$compileSecs%.2f s")
    }

  def build(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val warmers = SparkEntry.memoWarmers.toMap
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    for (name <- names)
      println(f"[build] $name ${timed(warmers(name)(spark, dir))._1}%.2f s " +
        s"(cpus=$cpus)")
  }

  def jobs(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (record) {
        val desc = j.stageInfos.map(s => s"${s.name}(${s.numTasks}t)")
          .mkString(" | ")
        starts.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (record) {
        Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
          println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- names) {
      count(spark, dir, name) // warm run: the probe reads plan cost, not JIT
      println(s"=== $name (warm) ===")
      record = true
      val total = count(spark, dir, name)
      // listener delivery is async; give stragglers a beat before unflagging
      Thread.sleep(300)
      record = false
      println(f"=== $name total $total%.2f s ===")
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  def plan(spark: SparkSession, dir: String, names: Seq[String],
           outDir: String): Unit = {
    val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val text = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val file = out.resolve(s"$name.txt")
      java.nio.file.Files.write(file,
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plan] $name -> $file")
    }
  }

  def floor(spark: SparkSession, dir: String): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    for (i <- 1 to FloorReps) {
      val (tPlan, df) = timed {
        graft.streaming.EventStream.readEvents(spark, dir).groupBy().count()
      }
      val name = s"floor_probe_$i"
      spark.conf.set(key, "8")
      try {
        val (tStart, q) = timed {
          df.writeStream.outputMode(OutputMode.Complete)
            .format("memory").queryName(name).start()
        }
        val tDrain = timed(q.processAllAvailable())._1
        val tStop = timed(q.stop())._1
        println(f"[floor] rep$i plan=$tPlan%.3f start=$tStart%.3f " +
          f"drain=$tDrain%.3f stop=$tStop%.3f batches=${q.recentProgress.length}")
      } finally { spark.conf.set(key, prev); spark.catalog.dropTempView(name) }
    }
  }

  /** One `SCALE` row: both runs at each dir, and the min-over-min ratio. */
  def scaleLine(name: String, small: (Double, Double),
                big: (Double, Double)): String = {
    val (s1, s2) = small
    val (b1, b2) = big
    f"SCALE $name%-24s small=$s1%.2f/$s2%.2f big=$b1%.2f/$b2%.2f " +
      f"ratio=${math.min(b1, b2) / math.max(math.min(s1, s2), 0.01)}%.2f"
  }

  def scale(spark: SparkSession, dir: String, names: Seq[String],
            bigDir: String): Unit = {
    // builds are single-run by nature; queries keep both runs, the min is
    // the exponent input (run1 carries first-file-listing noise)
    def sweep(d: String): Map[String, (Double, Double)] = {
      val builds = SparkEntry.memoWarmers.map { case (n, w) =>
        val t = timed(w(spark, d))._1; (s"_build_$n", (t, t))
      }
      (builds ++ names.map(n => (n, (count(spark, d, n), count(spark, d, n))))).toMap
    }
    val small = sweep(dir)
    Bench.warmUp(spark, bigDir)
    val big = sweep(bigDir)
    for (k <- small.keys.toSeq.sorted) println(scaleLine(k, small(k), big(k)))
  }
}
