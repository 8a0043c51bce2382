package graft.tools

/** Pre-deploy audit CLI: run every registered query against a data
  * directory and print ONE LINE per [[PlanAudit]] finding
  * (`query<TAB>[LEVEL] rule: detail`), errors and warnings alike — the
  * report form of the gate RosterAuditSpec enforces. A pipeline wires
  * its own query map through [[PlanAudit.audit]] the same way; this main
  * covers the library's shipped roster.
  *
  *   sbt "runMain graft.tools.AuditReport /root/testdata/sf0.001"
  */
object AuditReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session("graft-audit")
    spark.sparkContext.setLogLevel("ERROR")
    var (errors, warnings, proved) = (0, 0, 0)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try PlanAudit.audit(fn(spark, sfDir)).foreach { f =>
        if (f.error) errors += 1
        else if (f.proved) proved += 1
        else warnings += 1
        println(s"$name\t$f")
      }
      catch { case scala.util.control.NonFatal(e) =>
        println(s"$name\t[BUILD-ERROR] ${e.getMessage}")
      }
    }
    // errors are re-justified by RosterAuditSpec's named-bound waivers;
    // proved findings carry their own plan-derived proof; warnings are
    // the UNEXPLAINED remainder — a clean roster reports zero
    println(s"# ${graft.SparkEntry.queries.size} queries audited: " +
      s"$errors error(s), $warnings unexplained warning(s), " +
      s"$proved machine-proved idiom(s)")
    spark.stop()
  }
}
