package graft

import graft.functions.LetterTokens
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd text kernels against the HOF compositions they replaced
  * (kept here as the references), through Spark on both evaluation paths:
  * the tokenizer (`filter(split(c, "[^\\p{L}]+"), x => length(x) > 0)`)
  * and the Gopher counts behind [[TextAnalysis.gopherRules]].
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

  /** `gopherRules` as it was before the [[graft.functions.GopherCounts]]
    * kernel: three interpreted lambdas per document.
    */
  private def gopherReference(docs: DataFrame): DataFrame = {
    val sw = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
    docs.withColumn("w", TextAnalysis.tokens(col("text")))
      .filter(size(col("w")) > 0)
      .withColumn("n_words", size(col("w")))
      .withColumn("mean_wl",
        aggregate(col("w"), lit(0), (a, x) => a + length(x)).cast("double")
          / col("n_words"))
      .withColumn("n_stop", size(array_intersect(array_distinct(col("w")), sw)))
      .withColumn("top_ratio",
        array_max(transform(array_distinct(col("w")),
          t => size(filter(col("w"), x => x === t)))).cast("double")
          / col("n_words"))
      .withColumn("r_wc",
        (col("n_words") >= 50 && col("n_words") <= 1000).cast("int"))
      .withColumn("r_mwl",
        (col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("int"))
      .withColumn("r_rep", (col("top_ratio") <= 0.2).cast("int"))
      .select(col("doc_id"), col("n_words"), col("mean_wl"), col("n_stop"),
        col("top_ratio"), col("r_wc"), col("r_mwl"), col("r_stop"),
        col("r_rep"),
        (col("r_wc") * col("r_mwl") * col("r_stop") * col("r_rep"))
          .as("keep"))
  }

  test("gopherRules == its HOF form on all nine columns: codegen'd and " +
    "interpreted") {
    val params = Gen.Parameters.default.withSize(60)
    val sampled = Gen.listOfN(300, TokenizerProp.interesting)
      .apply(params, Seed(11L)).get
    // prose-like texts, so the stopword and repetition rules both flip
    val word = Gen.frequency(
      3 -> Gen.oneOf("the", "a", "of", "and", "to", "in", "The"),
      5 -> Gen.oneOf("data", "join", "shuffle", "straße", "λόγος", "中文", "𝒜𝒜"),
      2 -> Gen.alphaStr.map(_.take(12)))
    val prose = Gen.listOfN(200, Gen.choose(1, 120).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
      .apply(params, Seed(12L)).get
    val explicit = Seq(
      null, "", " \t,.-19'", // no token: dropped by both forms
      "hello", // one token
      "the a of and to in the of", // all stopwords
      Seq.fill(60)("echo").mkString(" "), // one repeated token
      "Ж中 λ é ß straße Ωmega", // non-ASCII letters
      "𝒜 a𝒜b 𝒜 𝒜𝒜 of the", // supplementary code points
      (1 to 60).map(i => s"w${"x" * (i % 7)}q the of").mkString(" "))
    val texts = explicit ++ sampled ++ prose
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def run(s: SparkSession): (Map[Long, Row], Map[Long, Row], DataFrame) = {
      // an RDD-backed frame, so nothing is folded at optimization time
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)
      def byId(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r).toMap
      val kernel = TextAnalysis.gopherRules(df)
      (byId(kernel), byId(gopherReference(df)), kernel)
    }
    def same(what: String, got: Map[Long, Row], want: Map[Long, Row]): Unit = {
      assert(got.keySet === want.keySet, what)
      for ((id, w) <- want)
        assert(got(id) === w, s"$what, text ${texts(id.toInt)}")
    }

    // compile failures must fail, not fall back
    val generated = spark.newSession()
    generated.conf.set("spark.sql.codegen.fallback", "false")
    val (got, want, kernel) = run(generated)
    val stages = kernel.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.toString
    }
    assert(stages.exists(_.contains("gopher_counts(")),
      kernel.queryExecution.executedPlan.toString)
    same("codegen'd", got, want)
    assert(want.size > texts.size / 2, s"${want.size} rows kept")
    assert(want.values.map(_.getInt(3)).toSet.size > 3, "n_stop barely varies")
    assert(want.values.map(_.getInt(9)).toSet === Set(0, 1), "keep never flips")

    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (gotI, wantI, kernelI) = run(interpreted)
    assert(kernelI.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }.isEmpty)
    same("interpreted", gotI, want)
    same("interpreted reference", wantI, want)
  }
}
