package graft

import graft.apps.Apps
import graft.functions.{FnvHash, TextKernels}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Prop}
import org.scalacheck.Prop.forAll

/** Property tests guarding the two fidelity risks called out in SURVEY §7:
  * tokenizer parity between the MrApp path (`Character.isLetter`, matching
  * Go `unicode.IsLetter`) and the native DataFrame path (Java regex
  * `[^\p{L}]+`), and partitioner determinism.
  */
object TokenizerProp extends Properties("tokenizer") {

  val interesting: Gen[String] = {
    val frag = Gen.frequency(
      6 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "\n", ",", ".", "-", "'", "1", "9"),
      // includes a supplementary-plane letter (MATHEMATICAL SCRIPT CAPITAL A)
      1 -> Gen.oneOf("é", "ß", "中", "λ", "Ж", " ", "𝒜"))
    Gen.listOf(frag).map(_.mkString)
  }

  def regexTokens(s: String): Seq[String] =
    s.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)

  property("letterTokens == regex [^\\p{L}]+ split") = forAll(interesting) { s =>
    Apps.letterTokens(s) == regexTokens(s)
  }

  /** The letter tokenizer before it cut tokens out with `substring`, kept
    * as the reference: each letter code point appended to a builder.
    */
  def builderTokens(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) sb.appendCodePoint(cp)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += sb.toString
    out.result()
  }

  /** The tokenizer's edges: a supplementary letter (U+1D400), lone high
    * and low surrogates, Latin-1 letters and the non-letters either side
    * of the ASCII letter ranges.
    */
  val edges: Gen[String] = {
    val frag = Gen.oneOf("a", "Z", "\uD835\uDC00", "\uD835", "\uDC00",
      "ª", "µ", "º", "ß", "ÿ", "@", "[", "`", "{", "_", " ", "中")
    Gen.listOf(frag).map(_.mkString)
  }

  property("letterTokens == StringBuilder form on surrogates, Latin-1 and ASCII edges") =
    forAll(edges) { s =>
      TextKernels.letterTokens(s).toSeq == builderTokens(s)
    }

  property("letterTokens == StringBuilder form at a lone surrogate at either end") = Prop {
    val cases = Seq("ab\uD835", "\uD835", "\uDC00ab", "a\uD835b", "a\uDC00b", "\uD835\uDC00\uD835",
      "\uDC00\uD835\uDC00x", "x\uD835\uDC00", "@[`{_ªµºßÿ", "")
    cases.forall(s => TextKernels.letterTokens(s).toSeq == builderTokens(s)) &&
      TextKernels.letterTokens("a\uD835\uDC00b\uD835c").toSeq == Seq("a\uD835\uDC00b", "c")
  }

  property("tokens contain only letters and cover all letters") =
    forAll(interesting) { s =>
      val toks = Apps.letterTokens(s)
      toks.forall(_.codePoints().allMatch(Character.isLetter _)) &&
        toks.map(t => Apps.utf8Len(t)).sum <= Apps.utf8Len(s)
    }

  property("ihash is deterministic, non-negative, stable across calls") =
    forAll(interesting) { s =>
      val u = UTF8String.fromString(s)
      val h = FnvHash.ihash(u)
      h >= 0 && h == FnvHash.ihash(UTF8String.fromString(s))
    }

  property("md5Prefix60 == conv(substr(md5_hex, 1, 15), 16, 10)") =
    forAll(interesting) { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      FnvHash.md5Prefix60(UTF8String.fromString(s)) ==
        java.lang.Long.parseLong(hex, 16)
    }

  property("poly31 == reference fold over code points, always in [0, mod)") =
    forAll(interesting) { s =>
      val ref = s.codePoints().toArray.foldLeft(0L) { (h, cp) =>
        (h * 31 + cp) % FnvHash.PolyMod
      }
      val got = FnvHash.poly31(UTF8String.fromString(s))
      got == ref && got >= 0 && got < FnvHash.PolyMod
    }

  // for ASCII the code-point fold IS the byte fold — pins that the oracle's
  // ascii()-per-character replay stays valid on the ASCII corpus
  property("poly31 code-point fold == byte fold on ASCII") =
    forAll(Gen.asciiPrintableStr) { s =>
      val byteRef = s.getBytes("UTF-8").foldLeft(0L) { (h, b) =>
        (h * 31 + (b & 0xff)) % FnvHash.PolyMod
      }
      FnvHash.poly31(UTF8String.fromString(s)) == byteRef
    }

  // Golden values computed with Go hash/fnv (fnv.New32a) to pin parity with
  // the reference's ihash (src/mr/worker.go:273-277).
  property("fnv1a32 matches Go hash/fnv golden vectors") = Prop {
    def h32(s: String) = FnvHash.hash32(UTF8String.fromString(s))
    h32("") == 0x811c9dc5 &&
      h32("a") == 0xe40c292c &&
      h32("foobar") == 0xbf9cf968 &&
      (FnvHash.hash64(UTF8String.fromString("foobar")) == 0x85944171f73967e8L)
  }
}
