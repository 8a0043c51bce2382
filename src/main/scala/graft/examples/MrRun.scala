package graft.examples

import graft.core.{LocalFs, MapReduceJob, MrApp}
import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's `mrcoordinator app.so pg*.txt`
  * driver (src/main/mrcoordinator.go): run any registered MrApp over a
  * directory of text files and write "key value" lines to an output dir.
  *
  * Usage: runMain graft.examples.MrRun <appName> <inputGlob> <outDir> [nReduce]
  */
object MrRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MrRun <appName> <inputGlob> <outDir> [nReduce]")
    val Array(appName, input, outDir) = args.take(3)
    val nReduce = if (args.length > 3) args(3).toInt else 10
    val app: MrApp = MrApp.all.getOrElse(appName,
      sys.error(s"unknown app '$appName'; available: ${MrApp.all.keys.toSeq.sorted.mkString(", ")}"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName(s"graft-mr-$appName")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val job = MapReduceJob(app, nReduce)
    job.writeOutput(job.run(spark, input), outDir)
    println(s"[MrRun] $appName done -> $outDir")
    spark.stop()
  }

  /** The settings the CLI's session is built with. */
  private[graft] val conf: Map[String, Any] = Map(
    "spark.sql.shuffle.partitions" -> 8,
    "spark.ui.enabled" -> false) ++ LocalFs.Conf
}
