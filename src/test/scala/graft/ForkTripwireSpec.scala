package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.apps.Apps
import graft.core.MapReduceJob
import graft.examples.CurationPipeline
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

/** No child process per local file. Hadoop's local filesystem without
  * `libhadoop` forks `chmod` for each file it creates and `readlink` for
  * each rename; the engine's own `file:` filesystem makes both calls as
  * syscalls. Each case records `jdk.ProcessStart` in this JVM around one
  * engine call that writes local files (a stream checkpoint, a text
  * commit, a partitioned parquet commit) and requires that none of those
  * forks, nor an `ls` or `stat`, was started. Spark's own `rm -rf` of a
  * temp dir is allowed.
  */
class ForkTripwireSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Forbidden = Set("chmod", "readlink", "ls", "stat")

  /** The commands of the processes this JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  /** Runs `body`, prints its process starts by program, and fails on a
    * forbidden one.
    */
  private def check(what: String)(body: => Unit): Unit = {
    val cmds = processStarts(body)
      .map(c => c.trim.split("\\s+").head.split('/').last -> c)
    val byProgram = cmds.groupBy(_._1).map { case (p, cs) => p -> cs.size }
    println(s"[forks] $what: ${cmds.size} process starts " +
      byProgram.toSeq.sortBy(-_._2).map { case (p, n) => s"$p=$n" }.mkString("(", " ", ")"))
    val bad = cmds.filter(c => Forbidden(c._1)).map(_._2)
    assert(bad.isEmpty, s"$what started ${bad.size} of ${Forbidden.mkString("/")}, " +
      s"first: ${bad.take(3).mkString("; ")}")
  }

  test("a drained stream checkpoints without forking") {
    check("drain st_time_window") {
      streaming.EventStream.defs("st_time_window")(spark, TestSpark.sf0001).collect()
    }
  }

  test("MapReduceJob.writeOutput commits without forking") {
    val files = TestSpark.corpus(8)
    val job = MapReduceJob(Apps.WordCount, nReduce = 4)
    val out = TestSpark.tempDir("fork-mr").resolve("wc")
    check("MapReduceJob.writeOutput")(job.writeOutput(job.runOn(spark, files), out.toString))
    assert(Files.exists(out.resolve("_SUCCESS")))
  }

  test("CurationPipeline.run's partitioned parquet write commits without forking") {
    val out = TestSpark.tempDir("fork-curation").resolve("out")
    check("CurationPipeline.run")(CurationPipeline.run(spark, TestSpark.sf0001, Some(out.toString)))
    assert(Files.exists(out.resolve("_SUCCESS")))
  }
}
