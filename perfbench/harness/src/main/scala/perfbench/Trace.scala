package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval, the span that caused it, and the trace it
  * belongs to — an operation's id, shared by every span inside it. Times
  * are nanoTime readings.
  */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
                      start: Long, var end: Long = -1L)

/** Counters one span collected from Spark's listeners while it was open. */
final class Counters {
  val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) = v(k) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v(k), x)
  def ++=(o: Counters): Unit = o.v.foreach {
    case (k, x) if k.endsWith("skew") => max(k, x)
    case (k, x) => add(k, x)
  }
}

/** Spans plus the three listeners that attribute Spark's own records to
  * them. Before each call into the program the benchmark opens a span and
  * sets the thread's job group to the span id, so every job that call
  * launches carries the id; stages and tasks attach through their job.
  * Streaming micro-batch jobs run on the stream's own thread under its run
  * id, which is mapped to the span that was open when the query started.
  * Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()

  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val runSpan = new ConcurrentHashMap[String, Long]()
  private val queryStart = new ConcurrentHashMap[String, Long]()
  // per stage: reduce-task shuffle-read bytes (skew) and last task end
  private val stageReads = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageLastTask = new ConcurrentHashMap[Int, Long]()
  private val stageOut = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()

  private def ctr(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)
  private def spanOfGroup(g: String): Long =
    Option(g).flatMap(x => scala.util.Try(x.stripPrefix("span-").toLong).toOption
      .filter(_ => x.startsWith("span-"))
      .orElse(Option(runSpan.get(x)))).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = spanOfGroup(g)
      jobSpan.put(e.jobId, s)
      jobStages.put(e.jobId, e.stageIds)
      e.stageIds.foreach(stageSpan.put(_, s))
      ctr(s).add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpan.getOrDefault(e.jobId, -1L)
      val stages = jobStages.getOrDefault(e.jobId, Nil)
      // a write job: commit = job end minus the last task end
      if (stages.exists(st => stageOut.getOrDefault(st, 0L) > 0)) {
        val last = stages.map(st => stageLastTask.getOrDefault(st, 0L)).max
        if (last > 0) ctr(s).add("sink.commit_s", math.max(0L, e.time - last) / 1e3)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = stageSpan.getOrDefault(info.stageId, -1L)
      val c = ctr(s)
      c.add("sched.stages", 1)
      val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a)
        .getOrElse(0L) / 1e3
      val m = info.taskMetrics
      val shRead = m.shuffleReadMetrics.totalBytesRead
      val shWrite = m.shuffleWriteMetrics.bytesWritten
      val in = m.inputMetrics.bytesRead
      val out = m.outputMetrics.bytesWritten
      // stage roles of the MapReduce pipeline: scan + shuffle write = map,
      // shuffle read + shuffle write = reduce, output bytes = sink
      if (in > 0 && shWrite > 0) {
        c.add("stage.map_s", wall); c.add("stage.map_kv", m.shuffleWriteMetrics.recordsWritten)
      } else if (shRead > 0 && shWrite > 0) {
        c.add("stage.reduce_s", wall); c.add("stage.reduce_out", m.shuffleWriteMetrics.recordsWritten)
      }
      if (out > 0) c.add("stage.sink_s", wall)
      val reads = Option(stageReads.remove(info.stageId)).map(_.toSeq).getOrElse(Nil)
        .filter(_ > 0).sorted
      if (reads.size >= 2) {
        val med = reads(reads.size / 2).toDouble
        c.max("shuffle.skew", reads.last / med)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, -1L)
      val c = ctr(s)
      val i = e.taskInfo
      c.add("sched.tasks", 1)
      if (i.attemptNumber > 0 || i.failed || i.killed) c.add("sched.task_retries", 1)
      stageLastTask.merge(e.stageId, i.finishTime, (a, b) => math.max(a, b))
      val m = e.taskMetrics
      if (m != null) {
        c.add("exec.run_s", m.executorRunTime / 1e3)
        c.add("exec.cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("exec.deser_s", m.executorDeserializeTime / 1e3)
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        c.add("sched.task_wait_s", math.max(0L, delay) / 1e3)
        val r = m.shuffleReadMetrics
        val w = m.shuffleWriteMetrics
        c.add("shuffle.read_mb", r.totalBytesRead / 1e6)
        c.add("shuffle.write_mb", w.bytesWritten / 1e6)
        c.add("shuffle.records", w.recordsWritten)
        c.add("shuffle.write_s", w.writeTime / 1e9)
        c.add("shuffle.fetch_wait_s", r.fetchWaitTime / 1e3)
        c.add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        c.add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
        c.add("scan.input_rows", m.inputMetrics.recordsRead)
        c.add("sink.output_mb", m.outputMetrics.bytesWritten / 1e6)
        if (m.outputMetrics.bytesWritten > 0) stageOut.merge(e.stageId, m.outputMetrics.bytesWritten, _ + _)
        if (r.totalBytesRead > 0)
          stageReads.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
            .synchronized { stageReads.get(e.stageId) += r.totalBytesRead }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val s = current
      val c = ctr(s)
      val ph = qe.tracker.phases
      c.add("plan.actions", 1)
      Seq("analysis", "optimization", "planning").foreach { p =>
        c.add(s"plan.${p}_s", ph.get(p).map(_.durationMs).getOrElse(0L) / 1e3)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // started events are delivered on the thread that starts the query,
    // so the innermost open span there is the one that caused it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      runSpan.put(e.runId.toString, current)
      queryStart.put(e.runId.toString, System.nanoTime())
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val c = ctr(runSpan.getOrDefault(p.runId.toString, -1L))
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.longValue).getOrElse(0L) / 1e3
      c.add("streaming.batches", 1)
      c.add("streaming.trigger_s", ms("triggerExecution"))
      c.add("streaming.add_batch_s", ms("addBatch"))
      c.add("streaming.query_planning_s", ms("queryPlanning"))
      c.add("streaming.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
      c.add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val t0 = Option(queryStart.remove(e.runId.toString))
      t0.foreach(t => ctr(runSpan.getOrDefault(e.runId.toString, -1L))
        .add("streaming.query_life_s", (System.nanoTime() - t) / 1e9))
    }
  }

  private val watched = mutable.ArrayBuffer.empty[SparkSession]

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    watch(spark)
  }

  /** Also record planning and stream progress of another session. */
  def watch(s: SparkSession): Unit = synchronized {
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    watched += s
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    synchronized {
      watched.foreach { s =>
        s.listenerManager.unregister(qeListener)
        s.streams.removeListener(streamListener)
      }
      watched.clear()
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.BusAccess.drain(sc)

  private def current: Long = synchronized(stack.headOption.map(_.id).getOrElse(-1L))

  /** Run `body` inside a new span; jobs it launches carry the span id.
    * With `drainAtEnd` the listener bus is drained before the span closes,
    * so asynchronously delivered records (planning phases) still find it
    * open.
    */
  def span[T](name: String, drainAtEnd: Boolean = false)(body: => T): T = {
    val sp = synchronized {
      val parent = stack.headOption
      val id = ids.incrementAndGet()
      val trace = parent.filterNot(_ => name.startsWith("op:")).map(_.trace).getOrElse(id)
      val s = Span(id, name, parent.map(_.id).getOrElse(0L), trace, System.nanoTime())
      spans += s
      stack = s :: stack
      s
    }
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"span-${sp.id}", name)
    try body
    finally {
      if (drainAtEnd) drain()
      sp.end = System.nanoTime()
      synchronized { stack = stack.tail }
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Counters of every span whose name satisfies `p`, their descendants
    * included. Call [[drain]] first.
    */
  def rollup(p: Span => Boolean): Counters = {
    val all = synchronized(spans.toList)
    val byParent = all.groupBy(_.parent)
    val out = new Counters
    def walk(s: Span): Unit = {
      Option(counters.get(s.id)).foreach(out ++= _)
      byParent.getOrElse(s.id, Nil).foreach(walk)
    }
    all.filter(p).foreach(walk)
    out
  }

  def spansNamed(p: Span => Boolean): Seq[Span] = synchronized(spans.filter(p).toList)

  /** Spans as JSON lines, each with its self time: duration minus the
    * part of its interval that its children cover.
    */
  def write(path: java.nio.file.Path): Unit = {
    val all = synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val end = if (s.end < 0) s.start else s.end
      val cov = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start),
        math.min(if (k.end < 0) k.start else k.end, end))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      cov.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      val dur = end - s.start
      val c = Option(counters.get(s.id)).map(_.v.toSeq).getOrElse(Nil)
        .map { case (k, x) => s""""$k":${Json.num(x)}""" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"trace":${s.trace},""" +
        s""""start_s":${Json.num(s.start / 1e9)},"dur_s":${Json.num(dur / 1e9)},""" +
        s""""self_s":${Json.num((dur - covered) / 1e9)},"counters":{$c}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
