package graft.core

import java.io.{IOException, OutputStream}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{BroadcastConf, Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import scala.collection.immutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Spark-native lowering of the reference's two-phase map/shuffle/reduce
  * dataflow (SURVEY §2a). The reference's coordinator/worker/RPC machinery
  * (src/mr/rpc.go, src/mr/coordinator.go) is NOT reproduced — Spark's
  * DAGScheduler provides the task tables, stage barrier, straggler retry
  * and exactly-once output commit natively.
  *
  * Pipeline (one Spark action, one exchange, two stages):
  * {{{
  *   wholetext read                      // src/mr/worker.go:221-232 (one map task per file)
  *     -> flatMap(app.map, group by key) // src/mr/worker.go:232-237: one (key, values,
  *                                       //   counts) row per distinct key of each file,
  *                                       //   its values as runs of equal adjacent values
  *     -> repartition(nReduce, key)      // ihash(key) % nReduce, src/mr/worker.go:235,273-277
  *     -> sortWithinPartitions(key)      // sort.Sort(ByKey), src/mr/worker.go:181
  *     -> adjacent-group fold(app.reduce)// src/mr/worker.go:197-212; the runs expanded
  *                                       //   in order, so reducef gets every value
  *     -> "key value" part writer        // the reduce task writes one part file per
  *                                       //   non-empty partition and commits it, like
  *                                       //   mr-out-X (worker.go:209-216); the job's
  *                                       //   Hadoop conf is broadcast once, not shipped
  *                                       //   in every task (see writeOutput)
  * }}}
  *
  * Scale notes (100 TB design):
  *  - This generic path intentionally has NO map-side combine, matching the
  *    reference (src/mrapps/wc.go:27-31 ships one "1" per occurrence): every
  *    value the map emits reaches reducef. A map call's values cross the
  *    shuffle grouped under their key — the reference's map task likewise
  *    holds one file's output in memory before bucketing it — so the
  *    shuffle carries one row per (file, key), not one per value. A row
  *    holds that file's runs for the key: equal adjacent values travel as
  *    one value and a count, and are expanded, in order, before reducef.
  *    Only adjacent repeats merge; nothing is combined or reordered. wc's
  *    "1"s are one run per (file, word), so its shuffle bytes follow the
  *    distinct words, not the tokens.
  *    For production queries use the native DataFrame formulations in
  *    [[graft.SparkEntry]], which get partial aggregation, whole-stage
  *    codegen and pushdown from Catalyst.
  *  - The grouping buffer is per map call, not per partition, and its input
  *    (the map's returned `Seq[KV]`) is already fully materialized by the
  *    [[MrApp]] contract, so grouping does not raise the memory bound.
  *  - The per-key value list is materialized only per group inside a
  *    streaming iterator scan of each sorted partition — Spark's
  *    UnsafeExternalSorter spills the sort by row (a row holds at most one
  *    file's runs for one key), so a partition larger than executor
  *    memory still completes. The reduce still materializes each key's
  *    full, expanded value list (one array slot per value, a run's slots
  *    sharing one `String`), so a single giant key is the only unbounded
  *    case, exactly as in the reference.
  *  - Spark's shuffle hash (Murmur3 via HashPartitioning) replaces the
  *    reference's FNV-1a. Only key co-location is observable in the final
  *    output (the reference test sorts across all mr-out-* files,
  *    src/main/test-mr.sh:103-111), so bucket-layout parity is deliberately
  *    not reproduced; [[graft.functions.fnv1a64]] exists for callers that
  *    want the reference's hash as a column.
  */
final case class MapReduceJob(app: MrApp, nReduce: Int = 10) {

  /** Read a directory (or glob) of text files as (fileName, contents) rows —
    * one row per whole file, like the reference's one-map-task-per-file
    * input split (src/mr/rpc.go:219-228).
    */
  def readWholeFiles(spark: SparkSession, path: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("file"), col("value").as("contents"))
      .as[(String, String)]
  }

  /** Map phase: call the user mapf once per whole file and group that
    * call's output by key in first-seen order — one `(key, values, counts)`
    * row per distinct key of the file. A key's values are kept in emitted
    * order as runs of equal adjacent values: `values(i)` repeated
    * `counts(i)` times (`a,a,b,a` is `[a, b, a]` × `[2, 1, 1]`). No value
    * is combined, reordered or dropped; wc's one `"1"` per occurrence
    * becomes one run per (file, word).
    */
  def mapPhase(files: Dataset[(String, String)]): Dataset[(String, Array[String], Array[Int])] = {
    import files.sparkSession.implicits._
    val f = app
    files.flatMap { case (file, contents) =>
      val groups = new java.util.LinkedHashMap[String, MapReduceJob.Runs]()
      f.map(file, contents).foreach { kv =>
        var runs = groups.get(kv.key)
        if (runs == null) { runs = new MapReduceJob.Runs; groups.put(kv.key, runs) }
        runs += kv.value
      }
      groups.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.values, e.getValue.counts))
    }
  }

  /** Shuffle + reduce phase: co-locate by key, sort within partitions, scan
    * each sorted partition expanding adjacent rows' runs in order and
    * calling the user reducef once per key with the materialized value
    * list — a line-for-line semantic match of the reference's reduce loop
    * (src/mr/worker.go:181-212) with Spark's shuffle replacing the
    * mr-M-R intermediate files. A run's repeats are one `String`.
    */
  def reducePhase(mapped: Dataset[(String, Array[String], Array[Int])]): Dataset[KV] = {
    import mapped.sparkSession.implicits._
    val f = app
    mapped
      .repartition(nReduce, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions { it =>
        new Iterator[KV] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): KV = {
            val k = buf.head._1
            val values = Array.newBuilder[String]
            while (buf.hasNext && buf.head._1 == k) {
              val (_, vs, cs) = buf.next()
              var i = 0
              while (i < vs.length) {
                var c = cs(i)
                while (c > 0) { values += vs(i); c -= 1 }
                i += 1
              }
            }
            KV(k, f.reduce(k, immutable.ArraySeq.unsafeWrapArray(values.result())))
          }
        }
      }
  }

  /** Full pipeline as a DataFrame of (key, value). */
  def run(spark: SparkSession, inputPath: String): Dataset[KV] =
    reducePhase(mapPhase(readWholeFiles(spark, inputPath)))

  /** Run over in-memory (file, contents) pairs — used by tests. */
  def runOn(spark: SparkSession, files: Seq[(String, String)]): Dataset[KV] = {
    import spark.implicits._
    reducePhase(mapPhase(spark.createDataset(files)))
  }

  /** Text sink: one `"key value"` line per record, written by the reduce
    * stage itself — up to `nReduce` part files, one per non-empty reduce
    * partition, each in key order (the reference's mr-out-X). The files are
    * named and laid out as `write.mode("overwrite").text(outDir)` lays
    * them out, and an existing `outDir` is replaced the same way.
    *
    * Output visibility: the session's file commit protocol, the one
    * `write.text` instantiates, with its calls in the same order
    * (`setupJob`, per task `setupTask` and `commitTask` or `abortTask`,
    * then `commitJob` or `abortJob`). Each task writes into its attempt's
    * temp dir, the driver's commit coordinator lets one attempt per
    * partition commit, and `commitJob` renames the committed files into
    * `outDir` and writes `_SUCCESS` — the same atomic-rename,
    * first-writer-wins protocol the reference hand-rolls
    * (src/mr/worker.go:183-216).
    *
    * The job's Hadoop conf is broadcast once, not shipped in each task.
    * `write.text` serializes it into every task twice (in its job
    * description and in its stats tracker): 1,099 properties, 113 KB with
    * each property's source list gzipped on its own, 7.5–13.6 ms to read
    * back on one thread. Each of a wc write's 10 reduce tasks spent
    * 23–43 ms of CPU deserializing itself, against 4–7 ms for the same
    * stage under an action that writes nothing (4 vCPU). On that host a
    * prototype of this writer cut the traced `exec.deser_s` of a
    * `perfbench` mapreduce pass from 0.78 to 0.11 s. A task reads the
    * broadcast conf and sets its attempt ids on a copy of it.
    */
  def writeOutput(result: Dataset[KV], outDir: String): Unit = {
    val lines = result.select(concat_ws(" ", col("key"), col("value")).as("value"))
    val spark = lines.sparkSession
    val qe = GraftShims.queryExecution(lines)
    val job = Job.getInstance(GraftShims.newHadoopConf(spark))
    val fs = new Path(outDir).getFileSystem(job.getConfiguration)
    val path = fs.makeQualified(new Path(outDir))
    FileOutputFormat.setOutputPath(job, path)
    val committer = FileCommitProtocol.instantiate(
      GraftShims.fileCommitProtocolClass(spark), UUID.randomUUID.toString, path.toString)
    SQLExecution.withNewExecutionId(qe, Some("writeOutput")) {
      if (fs.exists(path) && !committer.deleteWithJob(fs, path, true))
        throw new IOException(s"Unable to clear output directory $path")
      committer.setupJob(job)
      val conf = GraftShims.broadcastConf(spark.sparkContext, job.getConfiguration)
      try {
        val rows = qe.toRdd
        val commits = new Array[TaskCommitMessage](rows.getNumPartitions)
        spark.sparkContext.runJob(rows,
          MapReduceJob.partWriter(committer, conf, GraftShims.jobTrackerId()),
          rows.partitions.indices,
          (i: Int, m: TaskCommitMessage) => { committer.onTaskCommit(m); commits(i) = m })
        committer.commitJob(job, immutable.ArraySeq.unsafeWrapArray(commits))
      } catch {
        case t: Throwable =>
          committer.abortJob(job)
          throw t
      } finally conf.destroy()
    }
  }
}

object MapReduceJob {

  /** One map call's values for one key, as runs of equal adjacent values:
    * `values(i)` occurs `counts(i)` times in a row. Null is a value.
    */
  private[core] final class Runs {
    private var vs = new Array[String](4)
    private var cs = new Array[Int](4)
    private var n = 0

    def +=(v: String): Unit =
      if (n > 0 && vs(n - 1) == v) cs(n - 1) += 1
      else {
        if (n == vs.length) {
          vs = java.util.Arrays.copyOf(vs, 2 * n)
          cs = java.util.Arrays.copyOf(cs, 2 * n)
        }
        vs(n) = v
        cs(n) = 1
        n += 1
      }

    def values: Array[String] = java.util.Arrays.copyOf(vs, n)
    def counts: Array[Int] = java.util.Arrays.copyOf(cs, n)
  }

  /** Single-threaded golden oracle — a direct port of the reference's
    * sequential engine (src/main/mrsequential.go:38-87): map all files,
    * global sort by key, adjacent-group reduce. Returns the output lines
    * ("key value") in key order.
    */
  def sequential(app: MrApp, files: Seq[(String, String)]): Seq[String] = {
    val intermediate = files.flatMap { case (f, c) => app.map(f, c) }
      .sortBy(_.key).toIndexedSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < intermediate.length) {
      var j = i + 1
      while (j < intermediate.length && intermediate(j).key == intermediate(i).key) j += 1
      val values = intermediate.slice(i, j).map(_.value)
      out += s"${intermediate(i).key} ${app.reduce(intermediate(i).key, values)}"
      i = j
    }
    out.toSeq
  }

  /** What one reduce task of [[MapReduceJob.writeOutput]] runs: set up its
    * task attempt with `committer`, write its rows (one string column) as
    * UTF-8 lines to one part file, as the text source does, and commit —
    * or abort the attempt and rethrow. A partition with no row writes no
    * file. The function carries `conf`'s broadcast handle, not the conf.
    */
  private[graft] def partWriter(committer: FileCommitProtocol, conf: BroadcastConf,
                                jobTrackerId: String)
  : (TaskContext, Iterator[InternalRow]) => TaskCommitMessage = (ctx, rows) => {
    val jobId = GraftShims.hadoopJobId(jobTrackerId, ctx.stageId())
    val attemptId = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
      ctx.taskAttemptId().toInt & Int.MaxValue)
    val hadoopConf = new JobConf(conf.value)
    hadoopConf.set("mapreduce.job.id", jobId.toString)
    hadoopConf.set("mapreduce.task.id", attemptId.getTaskID.toString)
    hadoopConf.set("mapreduce.task.attempt.id", attemptId.toString)
    hadoopConf.setBoolean("mapreduce.task.ismap", true)
    hadoopConf.setInt("mapreduce.task.partition", 0)
    val attempt = new TaskAttemptContextImpl(hadoopConf, attemptId)
    committer.setupTask(attempt)
    var out: OutputStream = null
    try {
      var bytes, records = 0L
      if (rows.hasNext) {
        val file = new Path(committer.newTaskTempFile(attempt, None, FileNameSpec("", "-c000.txt")))
        out = file.getFileSystem(hadoopConf).create(file, false)
        rows.foreach { row =>
          val line = row.getUTF8String(0)
          line.writeTo(out)
          out.write('\n')
          bytes += line.numBytes + 1
          records += 1
        }
        val written = out
        out = null
        written.close()
      }
      val commit = committer.commitTask(attempt)
      GraftShims.reportOutput(ctx, bytes, records)
      commit
    } catch {
      case t: Throwable =>
        if (out != null) try out.close() catch { case NonFatal(e) => t.addSuppressed(e) }
        try committer.abortTask(attempt) catch { case NonFatal(e) => t.addSuppressed(e) }
        throw t
    }
  }
}
