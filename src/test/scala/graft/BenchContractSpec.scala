package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench driver keeps only the LAST 2,000 bytes of stdout and parses the
  * contract JSON line out of that window. BENCH_r07 lost its official number
  * because the 89-query map at 3 decimals plus sbt's trailing "[success]"
  * line overflowed the window. These tests pin the two repo-side defenses:
  * the rendered line (with the REAL query-name set and pessimistic value
  * widths) must fit with headroom, and the printed total must reconcile to
  * the last digit with the printed per-query values.
  */
class BenchContractSpec extends AnyFunSuite {

  private val names = (SparkEntry.queries.keys.toSeq ++
    SparkEntry.memoWarmers.map("_build_" + _._1) :+
    "_st_harness_floor").sorted
  private val sfDir = "/root/testdata/sf0.1"

  // pessimistic widths: every query at 9.99 s (4 chars at 2 decimals) and a
  // couple of failures at -9.99 (5 chars, also lengthens the failed array)
  private def pessimistic: Seq[(String, Double, Boolean)] =
    names.zipWithIndex.map { case (n, i) => (n, 9.99, i % 30 != 0) }

  test("contract line fits the driver's 2000-byte tail window with headroom") {
    val line = Bench.renderLine(pessimistic, sfDir)
    assert(line.length <= Bench.WindowBytes - 10,
      s"rendered contract line is ${line.length} bytes — the driver window " +
        s"is ${Bench.WindowBytes}; shorten values or query names")
    assert(!line.contains("\n"))
  }

  test("adaptive renderer degrades precision rather than overflow the window") {
    // simulate a round of query growth: the 2-decimal render of ~8 extra
    // queries would overflow; renderLine must fall back and still fit
    val grown = pessimistic ++ (1 to 8).map(i => (f"zz_future_q$i%02d", 9.99, true))
    val line = Bench.renderLine(grown, sfDir)
    assert(line.length <= Bench.WindowBytes - 10,
      s"grown line is ${line.length} bytes; adaptive fallback failed")
  }

  test("past the full-map ceiling: slowest-K + per-family rollup, reconciled") {
    // 130 long-named queries: no full map fits at any precision, so the
    // rollup rung must keep the slowest individually and fold the rest
    val huge = (1 to 130).map(i =>
      (f"zz_padding_query_name_$i%03d", 0.1 * (i % 17), i != 7))
    val line = Bench.renderLine(huge, sfDir)
    assert(line.length <= Bench.WindowBytes - 10, s"${line.length} bytes")
    assert(line.contains("\"_other_zz\":"), line)
    // the failed query is never folded away
    assert(line.contains("\"zz_padding_query_name_007\":-"), line)
    assert(line.contains("\"failed\":[\"zz_padding_query_name_007\"]"), line)
    // printed magnitudes still sum exactly to the printed total
    val value = BigDecimal("""\"value\":(-?[0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1))
    val qmap = """\"queries\":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    val parts = qmap.split(",").map(_.split(":")(1)).map(BigDecimal(_))
    assert(parts.map(_.abs).sum == value,
      "per-query magnitudes + _other must sum exactly to the total")
  }

  test("headroom at ~400 queries: rollup still fits and reconciles") {
    // tripwire for roster growth: at 282 entries the ladder's _other
    // bucket already absorbs most queries; prove the contract survives a
    // further ~40% growth (realistic long names, mixed magnitudes, a few
    // failures) BEFORE the roster gets there, so a future round can't
    // discover an overflowing stdout window from a red driver parse
    val grown = (1 to 400).map { i =>
      val fam = Seq("dd", "ann", "st", "ta", "mm", "emb", "src", "q").apply(i % 8)
      (f"${fam}_future_operator_name_$i%03d", 0.07 * (i % 29), i % 97 != 0)
    }
    val line = Bench.renderLine(grown, sfDir)
    assert(line.length <= Bench.WindowBytes - 10,
      s"rendered ${line.length} bytes at 400 queries — the driver window " +
        s"is ${Bench.WindowBytes}")
    assert(!line.contains("\n"))
    // the rollup is per FAMILY (r13 verdict item 6): at least one of the
    // eight families must appear as its own bucket, the anonymous catch-all
    // is gone
    assert("\"_other_(dd|ann|st|ta|mm|emb|src|q)\":".r
      .findFirstIn(line).isDefined, line)
    assert(!line.contains("\"_other\":"), line)
    // every failure is individually named, never folded
    (1 to 400).filter(_ % 97 == 0).foreach { i =>
      val fam = Seq("dd", "ann", "st", "ta", "mm", "emb", "src", "q").apply(i % 8)
      assert(line.contains(f"${fam}_future_operator_name_$i%03d"), line)
    }
    // printed magnitudes still sum exactly to the printed total
    val value = BigDecimal("""\"value\":(-?[0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1))
    val qmap = """\"queries\":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    val parts = qmap.split(",").map(_.split(":")(1)).map(BigDecimal(_))
    assert(parts.map(_.abs).sum == value,
      "per-query magnitudes + _other_* must sum exactly to the total")
  }

  test("wholesale failure on a huge roster: true count survives truncation") {
    // pathological round: EVERY query fails (bad data dir) on a roster so
    // big the failed NAMES alone overflow the window — the floor render
    // keeps as many names as fit and n_failed carries the true count
    val allBad = (1 to 130).map(i =>
      (f"zz_padding_query_name_$i%03d", 9.99, false))
    val line = Bench.renderLine(allBad, sfDir)
    assert(line.length <= Bench.WindowBytes - 10, s"${line.length} bytes")
    assert(line.contains("\"n_failed\":130"), line)
    val failed = """\"failed\":\[([^\]]*)\]""".r
      .findFirstMatchIn(line).get.group(1)
    assert(failed.nonEmpty && failed.split(",").length >= 30,
      s"failed[] kept too few names: $failed")
  }

  test("rollup rung reports the true failure count for folded failures") {
    // realistic-length names, 60 failures: the rollup rung fits some map
    // but may fold failures — n_failed and failed[] must stay complete
    val mixed = (1 to 130).map(i =>
      (f"zz_q$i%03d", 0.1 * (i % 11), i % 2 == 0))
    val line = Bench.renderLine(mixed, sfDir)
    assert(line.length <= Bench.WindowBytes - 10, s"${line.length} bytes")
    assert(line.contains("\"n_failed\":65"), line)
  }

  test("the REAL roster keeps meaningful per-query resolution") {
    // today's roster overflows the full map: the rollup rung must retain
    // a useful number of individual entries, not collapse to _other alone
    val line = Bench.renderLine(pessimistic, sfDir)
    val qmap = """\"queries\":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    val entries = qmap.split(",").length
    assert(entries >= 30 || !qmap.contains("_other_"),
      s"only $entries per-query entries survived: $qmap")
  }

  test("printed total equals the sum of the printed per-query magnitudes") {
    // fixed-size subset: the property is roster-size-independent, and a
    // full-roster fixture would eventually (correctly) degrade to the
    // no-queries render, which has no per-query values to reconcile
    val results = names.take(40).zipWithIndex.map { case (n, i) =>
      (n, 0.0049 + i * 0.137, i % 7 != 0) // exercises rounding + failures
    }
    val line = Bench.renderLine(results, sfDir)
    val value = BigDecimal("""\"value\":(-?[0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1))
    val qmap = """\"queries\":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    val parts = qmap.split(",").map(_.split(":")(1)).map(BigDecimal(_))
    assert(parts.length == results.length)
    assert(parts.map(_.abs).sum == value,
      "per-query values must sum exactly to the printed total")
  }

  test("failed queries print negative and are listed in failed[]") {
    val results = Seq(("a_ok", 1.234, true), ("b_bad", 0.0, false))
    val line = Bench.renderLine(results, sfDir)
    assert(line.contains("\"b_bad\":-0.01"), line)
    assert(line.contains("\"failed\":[\"b_bad\"]"), line)
  }

  test("every cold/warm pair survives the rollup fold intact") {
    // r14 verdict item 1b: four _cold_* samples were visible while their
    // warm named twins fell below the slowest-K cut into _other_q — the
    // reader saw the cold sample but not the warm verdict. Construct a
    // roster big enough to force the fold, with a warm twin that is tiny
    // (so slowest-K alone would certainly fold it), and assert both
    // halves of the pair render individually.
    val base = (1 to 130).map(i =>
      (f"zz_padding_query_name_$i%03d", 0.1 * (i % 17), true))
    val pair = Seq(("q999_jit_bound", 0.3, true),
                   ("_cold_q999_jit_bound", 44.7, true))
    val line = Bench.renderLine(base ++ pair, sfDir)
    assert(line.length <= Bench.WindowBytes - 10, s"${line.length} bytes")
    assert(line.contains("\"_cold_q999_jit_bound\":44.7"), line)
    assert(line.contains("\"q999_jit_bound\":0.3"), line)
    // and the reconciliation invariant still holds with the forced keeps
    val value = BigDecimal("""\"value\":(-?[0-9.]+)""".r
      .findFirstMatchIn(line).get.group(1))
    val qmap = """\"queries\":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
    val parts = qmap.split(",").map(_.split(":")(1)).map(BigDecimal(_))
    assert(parts.map(_.abs).sum == value)
  }

  test("rerun: a slow run is re-run once after evict, warm row first") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    var runs = 0
    val rows = Bench.rerun("x", 0.0, () => events += "evict") {
      runs += 1
      events += s"run$runs"
      if (runs == 1) Thread.sleep(50) // only the cold run is slow
    }
    assert(events == Seq("run1", "evict", "run2"))
    assert(rows.map(r => (r._1, r._3)) == Seq(("x", true), ("_cold_x", true)))
    assert(rows(1)._2 >= 0.05, s"cold row is not the first run: $rows")
  }

  test("rerun: a failing cold run or one under the threshold is one row") {
    var runs = 0
    var evicts = 0
    val failed = Bench.rerun("f", 0.0, () => evicts += 1) {
      runs += 1
      throw new IllegalStateException("boom")
    }
    assert(runs == 1 && evicts == 0)
    assert(failed.map(r => (r._1, r._3)) == Seq(("f", false)))
    val fast = Bench.rerun("g", 1e9, () => evicts += 1) { runs += 1 }
    assert(runs == 2 && evicts == 0)
    assert(fast.map(r => (r._1, r._3)) == Seq(("g", true)))
  }

  test("timed: a non-fatal error is a Left; a fatal one ends the run") {
    val (_, r) = Bench.timed[Unit](throw new IllegalStateException("x"))
    assert(r.left.map(_.getMessage) == Left("x"))
    intercept[InterruptedException](Bench.timed(throw new InterruptedException))
  }

  test("rerunSec stays a cold-JIT filter across scale factors") {
    // calibrated 15 s at sf0.1; linear in sf above that so entries that
    // legitimately cost >15 s at sf1 don't all earn a second full run
    assert(Bench.rerunSec("/root/testdata/sf0.1") == 15.0)
    assert(Bench.rerunSec("/root/testdata/sf0.01") == 15.0) // floor below calibration
    assert(Bench.rerunSec("/root/testdata/sf1") == 150.0)
    assert(Bench.rerunSec("/some/unrecognized/dir") == 15.0)
  }

  test("the full-resolution side record carries every entry and parses") {
    val results = Seq(("a_ok", 1.2345, true), ("_cold_a_ok", 20.0, true),
                      ("b_bad", 0.5, false), ("_build_x", 3.0, true))
    val f = java.nio.file.Files.createTempFile("bench_full", ".json")
    try {
      Bench.writeFullRecord(results, sfDir, f.toString)
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      results.foreach { case (n, _, _) =>
        assert(txt.contains("\"name\":\"" + n + "\""), s"$n missing from $txt")
      }
      assert(txt.contains("\"ok\":false"), txt)
      assert(txt.contains("\"n_entries\":4"), txt)
      // parses as JSON (spark's jackson is on the classpath)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(txt)
      assert(root.get("entries").size() == 4)
      assert(root.get("entries").get(0).get("sec").asDouble() == 1.235)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("a failed full-record write says so on stderr only and does not throw") {
    // a path under a regular file can never be created
    val file = java.nio.file.Files.createTempFile("bench_full", ".txt")
    val path = file.resolve("BENCH_FULL.json").toString
    val (out, err) = (new java.io.ByteArrayOutputStream,
      new java.io.ByteArrayOutputStream)
    val (prevOut, prevErr) = (System.out, System.err)
    System.setOut(new java.io.PrintStream(out, true, "UTF-8"))
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try Bench.writeFullRecord(Seq(("a", 1.0, true)), sfDir, path)
    finally {
      System.setOut(prevOut)
      System.setErr(prevErr)
      java.nio.file.Files.deleteIfExists(file)
    }
    val prefix = s"[bench] full record not written: $path: "
    val line = err.toString("UTF-8").linesIterator.find(_.startsWith(prefix))
    assert(line.exists(_.stripPrefix(prefix).matches("""[\w.$]+: .*""")),
      s"stderr: ${err.toString("UTF-8")}")
    assert(!out.toString("UTF-8").contains("[bench]"), "stdout is the contract")
  }

  test("driver contract consistency: every oracle names a query; rows-only set pinned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // a dangling oracle key is a silent typo: the driver would run SQL for
    // a query that writes no parquet and record a confusing miss
    assert((o -- q).isEmpty, s"oracle keys without a query: ${(o -- q).mkString(", ")}")
    // every query is hash-gated — the two former rows-only entries
    // (q21, emb_pca) were closed in r13 with accuracy-contract oracles
    assert((q -- o).isEmpty,
      s"unexpected rows-only queries: ${(q -- o).mkString(", ")}")
  }

  test("no published query schema contains a DecimalType column") {
    // r8 lesson: src_csv/src_jsonl published a raw DECIMAL(38,0) and the
    // driver's hasher canonicalizes Spark-parquet decimal differently from
    // DuckDB's HUGEINT-cast decimal — rows+values matched, hash didn't.
    // DECIMAL is fine as an internal exact accumulator (Exact.D38) but the
    // published schema must use engine-neutral types (BIGINT/DOUBLE/STRING).
    // Streaming (st_*) queries are excluded only because building them runs
    // the stream; their published decimals are cast to double at the source
    // (EventStream.scala) and their hash gates cover them.
    val spark = TestSpark.spark
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1.startsWith("st_"))
      .flatMap { case (name, f) =>
        val bad = f(spark, TestSpark.sf0001).schema.fields
          .filter(fld => hasDecimal(fld.dataType)).map(_.name)
        if (bad.isEmpty) None else Some(s"$name(${bad.mkString(",")})")
      }
    assert(offenders.isEmpty,
      s"queries publishing DecimalType columns: ${offenders.mkString("; ")}")
  }
}
