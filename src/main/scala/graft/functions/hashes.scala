package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side FNV-1a over UTF-8 bytes — the hash the reference uses to bucket
  * keys (src/mr/worker.go:273-277 uses Go's hash/fnv 32-bit, then masks the
  * sign bit). Static methods so generated code can call them directly.
  */
object FnvHash {
  final val Offset32 = 0x811c9dc5
  final val Prime32 = 0x01000193
  final val Offset64 = 0xcbf29ce484222325L
  final val Prime64 = 0x100000001b3L

  def hash32(s: UTF8String): Int = {
    val bytes = s.getBytes
    var h = Offset32
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * Prime32; i += 1 }
    h
  }

  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = Offset64
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * Prime64; i += 1 }
    h
  }

  /** The reference's ihash: fnv1a-32 with the sign bit cleared
    * (src/mr/worker.go:273-277); partition = ihash(key) % nReduce.
    */
  def ihash(s: UTF8String): Int = hash32(s) & 0x7fffffff

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Polynomial rolling hash (Rabin–Karp base 31, prime modulus): the
    * fingerprint whose windowed form supports O(1) sliding updates. The
    * mod keeps every intermediate small, so the fold is reproducible in
    * any engine with 64-bit integers. Folds Unicode CODE POINTS (== the
    * UTF-8 bytes for ASCII), matching the oracle's per-character ascii()
    * fold beyond ASCII too — a byte fold would silently diverge on the
    * first non-ASCII document.
    */
  final val PolyMod = 1000000007L

  def poly31(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % PolyMod
      i += Character.charCount(cp)
    }
    h
  }

  /** First 60 bits of md5 — numerically identical to
    * `conv(substr(md5(s), 1, 15), 16, 10)` (15 hex digits = the top
    * 7.5 digest bytes), without hex-string formatting and re-parsing.
    */
  def md5Prefix60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xff); i += 1 }
    (v << 4) | ((d(7) & 0xff) >>> 4)
  }
}


/** Hilbert curve index math — static so generated code calls it directly
  * (the FnvHash convention). The iterative xy→d walk (Hilbert 1891; the
  * public-domain iterative rendering popularized by Wikipedia's
  * "Hilbert curve" article and Hacker's Delight ch. 16): per square size
  * s = 2^(order−1)..1, accumulate s²·((3·rx) xor ry) and rotate the
  * frame. Unlike the Z-order interleave (one long diagonal jump per bit
  * carry), consecutive Hilbert indices are ALWAYS grid-adjacent, which
  * is why Hilbert clustering gives tighter per-file min/max boxes than
  * Z-order at the same sort cost.
  */
object HilbertCurve {
  final val Order = 8 // 256 x 256 grid, d in [0, 65536)

  /** Coordinates are taken mod 2^order (callers pre-mask; the mask here
    * keeps the loop total on any input).
    */
  def xy2d(xIn: Long, yIn: Long): Long = {
    val mask = (1L << Order) - 1
    var x = xIn & mask
    var y = yIn & mask
    var d = 0L
    var s = 1L << (Order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Codegen'd Hilbert-curve index of two integer grid coordinates — the
  * layout key behind Hilbert clustering (the lakehouse OPTIMIZE ZORDER
  * alternative with strictly better locality). Stays inside whole-stage
  * codegen like the hash expressions.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertCurve.xy2d(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HilbertCurve.xy2d($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd 60-bit md5-prefix hash — the engine-portable hash (identical
  * to the DuckDB oracle's `CAST(concat('0x', substr(md5(s),1,15)) AS
  * BIGINT)`) as a single native expression instead of the
  * md5 -> hex string -> substring -> conv chain.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"
  override protected def nullSafeEval(input: Any): Any =
    FnvHash.md5Prefix60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvHash.md5Prefix60($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

/** Native Catalyst expression (whole-stage-codegen'd, no UDF boundary) for
  * FNV-1a 64 of a string column.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a64"
  override protected def nullSafeEval(input: Any): Any =
    FnvHash.hash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvHash.hash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

/** Codegen'd polynomial rolling hash (Rabin–Karp fold, base 31 mod 1e9+7). */
case class Poly31Hash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly31_hash"
  override protected def nullSafeEval(input: Any): Any =
    FnvHash.poly31(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvHash.poly31($c)")
  override protected def withNewChildInternal(newChild: Expression): Poly31Hash =
    copy(child = newChild)
}

/** Codegen'd Bloom-filter membership probe over a string column — the
  * valve of [[graft.operators.Dedup.contaminationBloom]] as a native
  * expression instead of a scalar UDF (a UDF forces the whole scan stage
  * out of whole-stage codegen; this keeps the filter inside the generated
  * loop, PlanSpec-pinned). Probes with `mightContainBinary` over the
  * UTF8String's bytes — byte-identical to the `putString`/
  * `mightContainString` path `DataFrameStatFunctions.bloomFilter` used to
  * build the filter (both hash the UTF-8 encoding) without a per-row
  * String allocation.
  *
  * Holds the SERIALIZED filter: the expression ships inside the stage's
  * task binary, which Spark already torrent-broadcasts once per stage, and
  * each executor deserializes it once (transient lazy), not per row or
  * per task attempt.
  */
case class BloomMightContain(bloomBytes: Array[Byte], child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  def probe(s: UTF8String): Boolean = filter.mightContainBinary(s.getBytes)

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the whole expression instance rides the codegen references array —
    // the generated loop calls probe() straight on it, zero boxing
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContain].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** 32-bit sign-masked variant — column form of the reference's ihash. */
case class Fnv1aIHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a_ihash"
  override protected def nullSafeEval(input: Any): Any =
    FnvHash.ihash(input.asInstanceOf[UTF8String]).toLong
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"(long) graft.functions.FnvHash.ihash($c)")
  override protected def withNewChildInternal(newChild: Expression): Fnv1aIHash =
    copy(child = newChild)
}

object hashes {

  /** FNV-1a 64 of a string column as a native codegen'd expression. */
  def fnv1a64(c: Column): Column = GraftShims.column(Fnv1a64(expression(c)))

  /** The reference's bucket hash as a column: fnv1a32(key) & 0x7fffffff. */
  def fnv1aIHash(c: Column): Column = GraftShims.column(Fnv1aIHash(expression(c)))

  /** Engine-portable 60-bit positive hash with bit-identical semantics in
    * Spark and the DuckDB correctness oracle: the first 15 hex digits of
    * md5(s) as a bigint. In DuckDB:
    * `CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)`. Used wherever a
    * hash participates in oracle-checked results (minhash, simhash,
    * fingerprints); fnv/murmur/xxhash all differ across engines.
    * Implemented as the codegen'd [[Md5Prefix60]] expression (equivalence
    * with the conv(substr(md5)) composition is property-tested).
    */
  def portableHash60(c: Column): Column =
    GraftShims.column(Md5Prefix60(expression(c)))

  /** Rabin–Karp polynomial rolling hash of a string column (codegen'd). */
  def poly31Hash(c: Column): Column = GraftShims.column(Poly31Hash(expression(c)))

  /** Hilbert-curve index of two integer grid coordinates (codegen'd). */
  def hilbertIndex(x: Column, y: Column): Column =
    GraftShims.column(HilbertIndex(expression(x), expression(y)))

  /** Membership probe of a pre-built `util.sketch.BloomFilter` (pass its
    * serialized form) over a string column, as a codegen'd expression.
    */
  def bloomMightContain(bloomBytes: Array[Byte], c: Column): Column =
    GraftShims.column(BloomMightContain(bloomBytes, expression(c)))

  /** Driver-side ±1 from the md5-prefix parity of `key` — the SAME 15-hex
    * construction as [[portableHash60]], so an oracle can rebuild the
    * identical sign from `md5(key)` in SQL. One definition for every
    * random-projection plane in the library (SRP buckets, SemDeDup cells,
    * JL projection): the oracle hash parity breaks silently if the copies
    * ever drift, so there are no copies.
    */
  def md5ParitySign(key: String): Double = {
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(md5hex.take(15), 16) % 2 == 1) 1.0 else -1.0
  }

  /** Column → catalyst Expression on Spark 4's column-node API. */
  private def expression(c: Column): Expression = GraftShims.expression(c)
}
