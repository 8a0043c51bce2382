package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** The measuring main's shared pieces: selector resolution (before any
  * session exists), the `time` and `plan` modes' output formats, and the
  * `SCALE` row format tools/scaling_report.py parses.
  */
class ProbeSpec extends AnyFunSuite {

  test("a selector picks every entry starting with it, in name order") {
    val r = Probe.parse(Seq("time", "q01_,dd_minhash", "d")).toOption.get
    val dd = SparkEntry.queries.keys.filter(_.startsWith("dd_minhash")).toSeq.sorted
    assert(dd.nonEmpty)
    assert(r.names == dd :+ "q01_pricing_summary") // sorted, not selector order
    assert(r.dir == "d" && r.extra.isEmpty)
    // `build` selects memo warmers, in their dependency order
    val b = Probe.parse(Seq("build", "dd_pair", "d")).toOption.get
    assert(b.names == SparkEntry.memoWarmers.map(_._1).filter(_.startsWith("dd_pair")))
  }

  test("an unknown selector or malformed command is rejected without a session") {
    // parse takes no SparkSession: main exits 2 on Left before building one
    val msg = Probe.parse(Seq("time", "q01_,zz_nope", "d")).swap.toOption.get
    assert(msg.contains("zz_nope") && !msg.contains("q01_"), msg)
    assert(Probe.parse(Seq("build", "q01_", "d")).isLeft) // not a warmer
    assert(Probe.parse(Seq("plan", "q01_", "d")).isLeft)  // needs outDir
    assert(Probe.parse(Seq("time", "q01_", "d", "x")).isLeft)
    assert(Probe.parse(Seq("nope", "q01_", "d")).isLeft)
    assert(Probe.parse(Seq("floor", "d")).isRight)
  }

  test("time mode reports each run's compiled classes; run 2 compiles no more than run 1") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.time(TestSpark.spark, TestSpark.sf0001,
      Seq("q01_pricing_summary")))
    val line = """\[time\] (\S+) run(\d+) (\d+\.\d\d) s classes=(\d+) codegen=(\d+\.\d\d) s""".r
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val runs = lines.collect { case line(name, i, _, classes, _) =>
      (name, i.toInt, classes.toLong) }
    assert(runs.size == lines.size, s"unparsed lines in: $lines")
    assert(runs.map(r => (r._1, r._2)) ==
      (1 to Probe.TimeReps).map(("q01_pricing_summary", _)))
    assert(runs(1)._3 <= runs(0)._3, lines.mkString("\n"))
  }

  test("plan mode writes <out>/<name>.txt with the formatted physical plan") {
    val out = TestSpark.tempDir("probe-plan")
    Probe.plan(TestSpark.spark, TestSpark.sf0001, Seq("q01_pricing_summary"),
      out.toString)
    val txt = new String(java.nio.file.Files.readAllBytes(
      out.resolve("q01_pricing_summary.txt")), "UTF-8")
    assert(txt.contains("== Physical Plan =="), txt.take(500))
  }

  test("a SCALE line matches the regex tools/scaling_report.py parses") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/scaling_report.py")), "UTF-8")
    val regex = """r"(SCALE [^"]*)"""".r.findFirstMatchIn(src).get.group(1).r
    val line = Probe.scaleLine("_build_dd_sig", (12.5, 0.5), (3.0, 2.25))
    val m = regex.findPrefixMatchOf(line)
    assert(m.isDefined, s"$line !~ $regex")
    assert((1 to 5).map(m.get.group) ==
      Seq("_build_dd_sig", "12.50", "0.50", "3.00", "2.25"))
  }
}
