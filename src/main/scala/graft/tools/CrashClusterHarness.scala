package graft.tools

import graft.apps.Apps
import graft.core.{KV, MapReduceJob, MrApp}
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** PROCESS-level crash-recovery parity harness — the true analog of the
  * reference's crash test (src/main/test-mr.sh:284-330), which SIGKILLs
  * whole worker processes mid-job with p≈1/3 and requires the surviving
  * output to byte-match the undisturbed nocrash run. The in-suite analog
  * (MrBehaviorSpec) injects task-LEVEL exceptions inside one JVM; this
  * harness closes the remaining fault-domain gap: it runs the MR job on
  * `local-cluster[2,2,1024]` (a real standalone master + 2 workers, each
  * launching a SEPARATE executor JVM via $SPARK_HOME) and SIGKILLs one
  * executor process in BOTH phases the reference's crash app dies in
  * (src/mrapps/crash.go:20-44 crashes inside map AND inside reduce),
  * which in Spark's fault domain are two different recovery paths:
  *
  *   - MAP-phase kill: in-flight map tasks die with the executor →
  *     task retry on the survivor (plus the standalone master relaunching
  *     a replacement executor);
  *   - REDUCE-phase kill: the dead executor takes its shuffle map output
  *     with it (local-cluster runs no external shuffle service), so the
  *     retried reduce tasks hit FetchFailed and the DAGScheduler must
  *     RESUBMIT the parent map stage before the job can finish.
  *
  * Each phase's run asserts, listener-verified (the r14 ADVICE fix: a
  * kill that lands after the last task completes is a harness failure,
  * not a recovery pass):
  *
  *   1. the kill landed mid-job — a SparkListenerExecutorRemoved event
  *      was observed AND at least one task ended non-Success,
  *   2. the job still completed, and
  *   3. the output BYTE-matches the sequential golden oracle
  *      (MapReduceJob.sequential — the mrsequential.go port).
  *
  * Runs as its own JVM (ExecutorCrashSpec forks it) because a SparkContext
  * is one-per-JVM and the test suite's shared session is `local[*]`.
  * Args: the phases to run (`map`, `reduce`), default both in one
  * cluster session. Exit codes: 0 = parity OK for every phase;
  * 2 = output mismatch; 3 = the kill never landed or landed without
  * exercising recovery (no executor-removed event / no failed task);
  * 4 = job failed outright.
  */
object CrashClusterHarness {

  /** NoCrash's exact emissions, slowed so the targeted phase outlives its
    * SIGKILL window (map: 12 files × 250 ms across 4 task slots ≥ ~750 ms
    * of in-flight map work; reduce: NoCrash has only 4 keys, so the
    * reduce-kill run stretches each reduce invocation to 400 ms). The
    * output contract is UNCHANGED — byte-parity with the golden oracle is
    * the whole point.
    */
  private final case class SlowNoCrash(mapSleepMs: Long, reduceSleepMs: Long)
      extends MrApp {
    val name = "slow_nocrash"
    def map(file: String, contents: String): Seq[KV] = {
      Thread.sleep(mapSleepMs)
      Apps.NoCrash.map(file, contents)
    }
    def reduce(key: String, values: Seq[String]): String = {
      Thread.sleep(reduceSleepMs)
      Apps.NoCrash.reduce(key, values)
    }
  }

  /** PIDs of live CoarseGrainedExecutorBackend processes (scan
    * /proc/✱/cmdline — the container runs no other Spark clusters; the
    * test suite itself is `local[*]`, which launches no executor
    * backends).
    */
  private def executorPids(): Seq[Long] = {
    val proc = new java.io.File("/proc")
    Option(proc.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            f.toPath.resolve("cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend")) Some(f.getName.toLong)
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  def main(args: Array[String]): Unit = {
    val phases = if (args.isEmpty) Seq("map", "reduce") else args.toSeq
    require(phases.forall(Set("map", "reduce")), s"unknown phase in $phases")
    val files = (1 to 12).map(i =>
      (f"pg-synth-$i%02d.txt",
        (1 to 40).map(j => s"line $j of synthetic document $i").mkString("\n")))
    val golden = MapReduceJob.sequential(Apps.NoCrash, files).sorted

    // ABSOLUTE executor classpath: executors run in the worker's work
    // dir, so a relative entry (e.g. target/scala-2.13/classes) resolves
    // to nothing there and every task dies deserializing its closure
    // (SerializedLambda's capturing class unresolvable)
    val cp = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparatorChar)
      .filter(_.nonEmpty)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val spark = SparkSession.builder()
      .master("local-cluster[2,2,1024]")
      .appName("graft-crash-cluster")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.task.maxFailures", "8")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val outcomes = phases.map(p => runPhase(spark, p, files, golden))
    spark.stop()
    println("CRASH_CLUSTER_PARITY_OK " + outcomes.mkString(" "))
  }

  /** One job + one phase-targeted executor SIGKILL; exits the JVM on any
    * failed assertion (codes in the object doc). Returns the per-phase
    * summary token for the final OK line.
    */
  private def runPhase(spark: SparkSession, phase: String,
                       files: Seq[(String, String)],
                       golden: Seq[String]): String = {
    val taskStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val firstStage = new java.util.concurrent.atomic.AtomicInteger(-1)
    val reduceStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val executorsRemoved = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasksFailed = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        taskStarted.set(true)
        firstStage.compareAndSet(-1, e.stageId)
        // stage ids are app-global and a stage RETRY keeps its id, so a
        // different id than this job's first stage is the reduce stage
        if (e.stageId != firstStage.get) reduceStarted.set(true)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) tasksFailed.incrementAndGet()
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        executorsRemoved.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)

    // the killer: wait for real task execution in the TARGET phase, then
    // SIGKILL one executor PROCESS (kill -9 — the test-mr.sh fault, not a
    // JVM exception)
    val killed = new java.util.concurrent.atomic.AtomicLong(-1L)
    val killer = new Thread(() => {
      val deadline = System.nanoTime() + 120L * 1000000000L
      val armed: () => Boolean =
        if (phase == "map") () => taskStarted.get else () => reduceStarted.get
      while (!armed() && System.nanoTime() < deadline) Thread.sleep(20)
      // map: let the wave get airborne on both executors; reduce: the
      // window is only ~4 keys x 400 ms, strike while tasks are sleeping
      Thread.sleep(if (phase == "map") 300 else 100)
      var pids = executorPids()
      while (pids.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50); pids = executorPids()
      }
      pids.headOption.foreach { pid =>
        // SIGKILL via ProcessHandle (same-user non-child kill; no /bin/kill
        // dependency) — destroyForcibly is the SIGKILL path on Linux
        java.lang.ProcessHandle.of(pid).ifPresent { h =>
          h.destroyForcibly(); killed.set(pid)
        }
      }
    }, s"executor-killer-$phase")
    killer.setDaemon(true)
    killer.start()

    val app =
      if (phase == "map") SlowNoCrash(mapSleepMs = 250, reduceSleepMs = 50)
      else SlowNoCrash(mapSleepMs = 100, reduceSleepMs = 400)
    val job = MapReduceJob(app, nReduce = 4)
    val result: Seq[String] =
      try job.runOn(spark, files).collect().toSeq
        .map(kv => s"${kv.key} ${kv.value}").sorted
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"JOB FAILED ($phase): ${e.getMessage}")
          spark.stop(); sys.exit(4)
      }
    killer.join(5000)
    // listener events arrive asynchronously; give the removal a moment
    val evDeadline = System.nanoTime() + 15L * 1000000000L
    while (executorsRemoved.get == 0 && System.nanoTime() < evDeadline)
      Thread.sleep(100)
    spark.sparkContext.removeSparkListener(listener)

    if (killed.get < 0) {
      System.err.println(s"KILL NEVER LANDED ($phase): no executor process found")
      sys.exit(3)
    }
    // the r14 ADVICE fix: a kill whose removal was never observed, or that
    // failed no task, landed after the work finished — recovery was never
    // exercised, and that must read as a harness failure, not a pass
    if (executorsRemoved.get == 0 || tasksFailed.get == 0) {
      System.err.println(s"KILL DID NOT EXERCISE RECOVERY ($phase): " +
        s"executors_removed=${executorsRemoved.get} tasks_failed=${tasksFailed.get}")
      sys.exit(3)
    }
    if (result != golden) {
      System.err.println(s"OUTPUT MISMATCH ($phase): got ${result.size} lines, " +
        s"golden ${golden.size}")
      result.zipAll(golden, "<missing>", "<missing>")
        .filter { case (a, b) => a != b }.take(5)
        .foreach { case (a, b) => System.err.println(s"  got=$a  want=$b") }
      sys.exit(2)
    }
    val token = s"phase=$phase:killed_pid=${killed.get}:" +
      s"executors_removed=${executorsRemoved.get}:tasks_failed=${tasksFailed.get}"
    println(s"CRASH_PHASE_OK $token")
    token
  }
}
