package graft

import graft.functions.vector.{vecDot, vecMicroMean, topCentroids}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Direct coverage for the round-6 native expressions (TopCentroids,
  * VecMicroMean) and the new operator surface (BPE merge loop,
  * contamination check) — each checked against an independent driver-side
  * or column-formulation reference, not just end-to-end recall.
  */
class VectorExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
  lazy val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")

  private def vecs: Seq[(Long, Vector[Double])] =
    emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toSeq

  test("HilbertIndex: full-grid bijection + unit-step adjacency; " +
      "column == JVM replay over a real scan inside codegen") {
    import graft.functions.HilbertCurve.xy2d
    // the defining property: d is a BIJECTION onto [0, 65536) and
    // consecutive indices are grid-ADJACENT (|dx|+|dy| = 1) — the
    // locality guarantee Z-order does not have
    val cells = new Array[(Int, Int)](65536)
    for (x <- 0 until 256; y <- 0 until 256) {
      val d = xy2d(x, y).toInt
      assert(cells(d) == null, s"collision at d=$d")
      cells(d) = (x, y)
    }
    for (d <- 0 until 65535) {
      val (x1, y1) = cells(d); val (x2, y2) = cells(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step at d=$d: ($x1,$y1)->($x2,$y2)")
    }
    assert(xy2d(0, 0) == 0L)
    // out-of-grid coordinates are taken mod 2^order
    assert(xy2d(256 + 3, 512 + 7) == xy2d(3, 7))

    // the column expression over a real scan == the JVM replay, and the
    // plan stays in whole-stage codegen (the poly31 discipline)
    val df = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .select((col("l_partkey") % 256).cast("bigint").as("x"),
        (col("l_suppkey") % 256).cast("bigint").as("y"))
      .withColumn("h", graft.functions.hashes.hilbertIndex(col("x"), col("y")))
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    df.limit(500).collect().foreach { r =>
      assert(r.getLong(2) == xy2d(r.getLong(0), r.getLong(1)))
    }
  }

  test("TopCentroids == driver-side cosine argmax with (sim desc, id asc) ties") {
    val cents = vecs.take(7).map { case (id, v) => (id, v: Seq[Double]) }
    val got = emb
      .select(col("vec_id"),
        topCentroids(col("embedding").cast("array<double>"), cents, 3).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0.0 || nb == 0.0) -2.0 else dot(a, b) / (na * nb)
    }
    for ((id, v) <- vecs) {
      val want = cents.map { case (cid, cv) => (cos(v, cv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(3).map(_._2).toList
      assert(got(id) === want, s"vec $id")
    }
  }

  test("TopCentroids: zero-norm rows score -2.0 and tie to the LOWEST cent_id") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "v")
    // deliberately UNSORTED centroid order — the wrapper must sort by id
    // or the exact k-way tie of the zero vector would come out in input
    // order instead of id order
    val cents: Seq[(Long, Seq[Double])] =
      Seq((12L, Seq(0.0, 1.0)), (10L, Seq(0.0, 0.0)), (11L, Seq(1.0, 0.0)))
    val got = df
      .select(col("vec_id"), topCentroids(col("v"), cents, 3).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got(1L) === List(11L, 12L, 10L)) // cos 1 > 0 > -2 (zero centroid last)
    assert(got(2L) === List(10L, 11L, 12L)) // zero vector: all -2.0, id order
    assert(got(3L) === List(12L, 11L, 10L))
  }

  test("native expressions fail loudly on bad input, never silently") {
    import spark.implicits._
    // VecMicroMean: two rows of 9e12 sum past the int64 micro-unit range —
    // Math.addExact must throw, not wrap into a garbage mean
    val big = Seq((1L, Seq(9.0e12)), (1L, Seq(9.0e12))).toDF("g", "v")
    val overflow = intercept[Throwable] {
      big.groupBy("g").agg(vecMicroMean(col("v"), 1)).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(overflow).exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException in: ${chain(overflow).map(_.toString)}")
    // dimension mismatch: a 1-element vector against dim=2 throws
    val short = Seq((1L, Seq(1.0))).toDF("g", "v")
    intercept[Throwable] {
      short.groupBy("g").agg(vecMicroMean(col("v"), 2)).collect()
    }
    // and against a 2-dim centroid matrix
    intercept[Throwable] {
      short.select(topCentroids(col("v"), Seq((1L, Seq(1.0, 0.0))), 1)).collect()
    }
    // vec_dot: non-double arrays rejected at ANALYSIS (getDouble on an
    // array<bigint> would reinterpret raw bits as NaN garbage)
    intercept[Throwable] {
      Seq((1L, Seq(1L, 2L))).toDF("g", "v")
        .select(vecDot(col("v"), col("v"))).collect()
    }
    // vec_dot: mismatched lengths throw, never a silent min-truncation
    intercept[Throwable] {
      Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
        .select(vecDot(col("a"), col("b"))).collect()
    }
    // vec_dot: a null ELEMENT throws (the unsafe format reads a null slot
    // as raw 0.0 — a value-level hole the analysis-time type check misses)
    intercept[Throwable] {
      Seq((1L, Seq[java.lang.Double](1.0, null))).toDF("g", "v")
        .select(vecDot(col("v").cast("array<double>"),
          col("v").cast("array<double>"))).collect()
    }
  }

  test("SrpCodes == driver-side left-to-right dot signs; stays in codegen") {
    val tables = 3; val bits = 4; val dim = 64
    val planes = for (t <- 0 until tables; b <- 0 until bits)
      yield (0 until dim).map(d =>
        graft.functions.hashes.md5ParitySign(s"$t,$b,$d"))
    val df = emb.select(col("vec_id"),
      graft.functions.vector.srpCodes(
        col("embedding").cast("array<double>"), planes, bits).as("codes"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val raw = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    raw.take(25).foreach { case (id, v) =>
      val want = (0 until tables).map { t =>
        (0 until bits).map { b =>
          var s = 0.0
          var i = 0
          while (i < dim) { s += v(i) * planes(t * bits + b)(i); i += 1 }
          if (s > 0) 1L << b else 0L
        }.sum
      }
      assert(got(id) === want, s"codes of $id")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"srp_codes must stay in whole-stage codegen: $p")
  }

  test("TopCentroids stays inside whole-stage codegen") {
    val cents = vecs.take(4).map { case (id, v) => (id, v: Seq[Double]) }
    val df = emb.select(
      topCentroids(col("embedding").cast("array<double>"), cents, 1).as("t"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no whole-stage codegen stages: $p")
  }

  test("VecMicroMean == the dim-column round/decimal aggregate it replaced") {
    val d = vecs.head._2.length
    val grouped = emb.select((col("vec_id") % 5).as("g"),
      col("embedding").cast("array<double>").as("v"))
    val got = grouped.groupBy("g").agg(vecMicroMean(col("v"), d).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val decimalCols = (0 until d).map { i =>
      (sum(round(element_at(col("v"), i + 1), 6).cast(DecimalType(18, 6)))
        .cast("double") / count(lit(1))).as(s"m$i")
    }
    val want = grouped.groupBy("g").agg(decimalCols.head, decimalCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to d).map(r.getDouble).toVector).toMap
    assert(got.keySet === want.keySet)
    // bit-identical, not approximately equal: same micro-exact sum, same
    // decimal->double boundary, same final division
    for ((g, w) <- want) assert(got(g) === w, s"group $g")
  }

  test("VecMicroMean is shuffle-order independent") {
    val d = vecs.head._2.length
    val base = emb.select((col("vec_id") % 3).as("g"),
      col("embedding").cast("array<double>").as("v"))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(vecMicroMean(col("v"), d).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val a = run(base.repartition(1))
    val b = run(base.repartition(13, col("v")))
    assert(a === b)
  }

  test("bpeVocab == driver-side greedy reference merges") {
    // independent reference: greedy left-to-right non-overlapping merge on
    // symbol ARRAYS (no string-sentinel encoding shared with the impl)
    val words0: Map[Vector[String], Long] = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .collect().map(_.getString(0))
      .groupBy(identity).map { case (w, g) =>
        (w.toVector.map(_.toString), g.length.toLong)
      }
    var words = words0
    val expect = Seq.newBuilder[(Int, String, String, String, Long)]
    for (rank <- 1 to 8) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      expect += ((rank, l, r, l + r, c))
      words = words.toSeq.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }.groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }
    }
    val got = TextAnalysis.bpeVocab(docs, 8).orderBy("rank")
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got === expect.result())
  }

  test("contamination flags exactly the corpus docs near-duplicating eval docs") {
    val eval = docs.filter(col("doc_id") % 20 === 7)
    val corpus = docs.filter(col("doc_id") % 20 =!= 7)
    val flagged = Dedup.contamination(corpus, eval)
      .filter(col("contaminated") === 1)
      .collect().map(_.getLong(0)).toSet
    // ground truth: planted near-dup pairs (jaccard >= 0.8) that straddle
    // the split — their corpus member must be flagged
    val evalIds = eval.select("doc_id").collect().map(_.getLong(0)).toSet
    val straddling = Dedup.ngramJaccardPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect {
        case (a, b) if evalIds(a) && !evalIds(b) => b
        case (a, b) if evalIds(b) && !evalIds(a) => a
      }.toSet
    assert(straddling.subsetOf(flagged),
      s"missed planted contamination: ${straddling -- flagged}")
    // and an identical corpus (eval == corpus docs by text) is 100% contaminated
    val self = Dedup.contamination(eval, eval)
    assert(self.filter(col("contaminated") === 0).count() === 0)
    assert(self.filter(col("contam_frac") =!= 1.0).count() === 0)
  }
}
