package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites. `local[8,2]` = 8 executor threads
  * with task maxFailures 2, so fault-injection tests can exercise Spark's
  * task retry (the engine's replacement for the reference's 10 s straggler
  * preemption, src/mr/rpc.go:79-98) while normal tests are unaffected.
  * Codegen and the `file:` filesystem are the bench session's
  * (Bench.CodegenConf, graft.core.LocalFs.Conf).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8,2]")
      .appName("graft-tests")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The settings the shared session is built with. */
  lazy val conf: Map[String, Any] = Map(
    "spark.sql.shuffle.partitions" -> 8,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> tempDir("graft-warehouse").toString,
    "spark.ui.enabled" -> false,
    // RAM-backed shuffle scratch when available (see Bench.scratchDir)
    "spark.local.dir" -> graft.Bench.scratchDir.getOrElse("/tmp")) ++
    graft.Bench.CodegenConf ++ graft.core.LocalFs.Conf

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Temp directory that removes itself (recursively) on JVM exit — the
    * suites were each leaking one directory per run into /tmp (warehouse,
    * MR in/out, sink roundtrips, stream checkpoints: ~7 dirs per `sbt
    * test`). Exit-time cleanup, not eager, because Spark may hold files
    * open until the session stops.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(d)
    }
    d
  }

  /** The context's listener bus; Spark keeps it private, so it is reached
    * through its public bytecode accessor.
    */
  private def bus(sc: org.apache.spark.SparkContext): AnyRef =
    classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(sc)

  /** The listeners registered on the context's bus. */
  def busListeners(sc: org.apache.spark.SparkContext): Seq[AnyRef] = {
    val b = bus(sc)
    b.getClass.getMethod("listeners").invoke(b)
      .asInstanceOf[java.util.List[AnyRef]].toArray.toSeq
  }

  /** Returns once every event posted so far has reached every listener. */
  def drainBus(sc: org.apache.spark.SparkContext): Unit = {
    val b = bus(sc)
    b.getClass.getMethod("waitUntilEmpty").invoke(b)
  }

  /** A Gutenberg-style corpus for MR parity tests: each documents-table row
    * becomes one (fileName, contents) whole file.
    */
  def corpus(n: Int = 60): Seq[(String, String)] = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").limit(n).collect()
    docs.map(r => (f"pg-${r.getLong(0)}%04d.txt", r.getString(1))).toSeq
  }
}
