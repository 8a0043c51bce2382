package graft

import graft.functions.LetterTokens
import graft.operators.TextAnalysis
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd tokenizer kernel against the HOF composition it replaced
  * (`filter(split(c, "[^\\p{L}]+"), x => length(x) > 0)`, kept here as the
  * reference), through Spark on both evaluation paths.
  */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def reference(c: org.apache.spark.sql.Column) =
    filter(split(c, "[^\\p{L}]+"), x => length(x) > 0)

  test("letter_tokens == filter(split(c, [^\\p{L}]+), nonempty): codegen'd " +
    "and interpreted") {
    val sampled = Gen.listOfN(400, TokenizerProp.interesting)
      .apply(Gen.Parameters.default.withSize(60), Seed(7L)).get
    val explicit = Seq(null, "", " \t,.-19'", "𝒜", "a𝒜b 𝒜", "Ж中 λ")
    val texts = explicit ++ sampled
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("s", StringType)))
    // an RDD-backed frame, so the select is not folded into a local relation
    // at optimization time; compile failures must fail, not fall back
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)

    val kernel = df.select(col("i"), TextAnalysis.tokens(col("s")).as("w"))
    val generated = kernel.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.toString
    }
    assert(generated.exists(_.contains("letter_tokens(")),
      kernel.queryExecution.executedPlan.toString)
    def byId(d: org.apache.spark.sql.DataFrame): Map[Long, Option[Seq[String]]] =
      d.collect().map(r =>
        r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
    val got = byId(kernel)
    val want = byId(df.select(col("i"), reference(col("s"))))
    assert(got.size === texts.size)
    texts.indices.foreach { i =>
      assert(got(i.toLong) === want(i.toLong), s"codegen'd, text ${texts(i)}")
      val interpreted = LetterTokens(Literal.create(texts(i), StringType)).eval()
      val viaEval = Option(interpreted.asInstanceOf[ArrayData])
        .map(_.toArray[AnyRef](StringType).map(_.toString).toList)
      assert(viaEval === want(i.toLong), s"interpreted, text ${texts(i)}")
    }
    assert(want(0L).isEmpty, "null row")
    assert(want(1L) === Some(Nil) && want(2L) === Some(Nil), "no letters")
    assert(want(3L) === Some(List("𝒜")) && want(4L) === Some(List("a𝒜b", "𝒜")))
  }
}
