package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The text kernels as static methods (the [[FnvHash]] convention): the
  * MrApp path calls them on JVM strings, the codegen'd expressions below
  * call them from generated code.
  */
object TextKernels {

  /** Tokenizer parity with Go `strings.FieldsFunc(s, !unicode.IsLetter)`
    * (src/mrapps/wc.go:21-24): split on maximal runs of non-letters, drop
    * empty tokens. `Character.isLetter` on code points mirrors
    * `unicode.IsLetter` (both are Unicode general-category L*), and Java
    * regex `\p{L}`, so this equals `split(s, "[^\\p{L}]+")` with empties
    * dropped (TokenizerProp).
    *
    * A token is a maximal run of letters, so it is cut out of `s` with one
    * `substring`. A char below 128 is tested as an ASCII letter, a high
    * surrogate as the code point it starts (a lone one is not a letter),
    * and any other char with `Character.isLetter(c)`.
    */
  def letterTokens(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = s.length
    var start = -1
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      var width = 1
      val letter =
        if (c < 128) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else if (Character.isHighSurrogate(c)) {
          val cp = s.codePointAt(i)
          width = Character.charCount(cp)
          Character.isLetter(cp)
        } else Character.isLetter(c)
      if (letter) { if (start < 0) start = i }
      else if (start >= 0) { out += s.substring(start, i); start = -1 }
      i += width
    }
    if (start >= 0) out += s.substring(start, n)
    out.result()
  }

  /** [[letterTokens]] over a Catalyst string, as a Catalyst array. */
  def letterTokenArray(s: UTF8String): ArrayData = {
    val toks = letterTokens(s.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** The Gopher gate's counts over one document's tokens, in one pass with
    * one hash map ([[GopherCounts]]): the token count, the letter-length
    * sum (code points, as `length`), how many distinct `stopwords` occur,
    * and how often the most frequent token occurs.
    */
  def gopherCounts(tokens: ArrayData, stopwords: java.util.Set[UTF8String]): InternalRow = {
    val n = tokens.numElements()
    val seen = new java.util.HashMap[UTF8String, Array[Int]](2 * n)
    var letters = 0L
    var nStop = 0
    var top = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      letters += t.numChars()
      var c = seen.get(t)
      if (c == null) {
        c = new Array[Int](1)
        seen.put(t, c)
        if (stopwords.contains(t)) nStop += 1
      }
      c(0) += 1
      if (c(0) > top) top = c(0)
      i += 1
    }
    new GenericInternalRow(Array[Any](n, letters, nStop, top))
  }
}

/** The MinHash parameters — the one definition the signature kernel, the
  * explode + groupBy reference build and the signature store's
  * `_meta.json` all read. Permutation i (1-based) maps a shingle hash h to
  * `(h * a_i + b_i) mod P` with `a_i = i * 2654435761 mod P` and
  * `b_i = i * 982451653 mod P`; the shingle hash is the md5-60 portable
  * hash mod P. Every product stays below 2^62, so no step overflows.
  */
object MinHash {
  final val P = 2147483647L // 2^31 - 1, prime modulus for the permutations
  final val K = 32 // permutations
  final val R = 4 // rows per LSH band -> K / R bands

  def a(i: Int): Long = (i * 2654435761L) % P
  def b(i: Int): Long = (i * 982451653L) % P

  private val As = Array.tabulate(K)(i => a(i + 1))
  private val Bs = Array.tabulate(K)(i => b(i + 1))
  private val Space = UTF8String.fromString(" ")

  /** The K-wide signature of a token array: over every word 3-gram (the
    * tokens joined by one space, as `concat_ws(" ", …)`), the min of each
    * permutation of its hash. Duplicate shingles leave a min unchanged, so
    * there is no distinct pass. Null when there is no 3-gram (fewer than
    * 3 tokens), as `array_min` of an empty array.
    */
  def signature(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < 3) return null
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i + 2 < n) {
      val h = FnvHash.md5Prefix60(UTF8String.concatWs(Space,
        tokens.getUTF8String(i), tokens.getUTF8String(i + 1),
        tokens.getUTF8String(i + 2))) % P
      var k = 0
      while (k < K) {
        val v = (h * As(k) + Bs(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Codegen'd letter tokenizer ([[TextKernels.letterTokens]]): one loop per
  * row instead of a regex split plus the interpreted `filter` lambda.
  */
case class LetterTokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckSuccess
    case t => TypeCheckFailure(s"$prettyName needs a string, not ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "letter_tokens"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.letterTokenArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.letterTokenArray($c)")
  override protected def withNewChildInternal(newChild: Expression): LetterTokens =
    copy(child = newChild)
}

/** Codegen'd MinHash signature ([[MinHash.signature]]) of a token array:
  * shingling, hashing and all K permutation mins in one loop per row.
  */
case class MinHashSignature(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckSuccess
    case t => TypeCheckFailure(
      s"$prettyName needs an array of strings, not ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    MinHash.signature(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val t = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $t ${ev.value} = ${c.isNull} ? null : graft.functions.MinHash.signature(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Codegen'd Gopher counts ([[TextKernels.gopherCounts]]) of a token array,
  * as a struct of `n_words`, `letters`, `n_stop` and `top_count`: one loop
  * per row in place of the `aggregate`, `array_intersect(array_distinct …)`
  * and `array_max(transform(… filter …))` lambdas, whose top-token count
  * alone made one lambda call per (distinct token, token) pair.
  */
case class GopherCounts(child: Expression, stopwords: Seq[String]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, false) => TypeCheckSuccess
    case t => TypeCheckFailure(
      s"$prettyName needs an array of non-null strings, not ${t.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("letters", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false)))
  override def prettyName: String = "gopher_counts"

  @transient private lazy val stopSet: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.gopherCounts(input.asInstanceOf[ArrayData], stopSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sw = ctx.addReferenceObj("gopherStopwords", stopSet, "java.util.Set")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gopherCounts($c, $sw)")
  }
  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
}
