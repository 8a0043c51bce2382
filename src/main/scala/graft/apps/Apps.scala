package graft.apps

import graft.core.{KV, MrApp}
import graft.functions.TextKernels
import java.nio.charset.StandardCharsets
import scala.collection.immutable

/** The reference's 8 shipped applications (SURVEY §2b), re-expressed as
  * [[MrApp]] instances. Semantics are matched behaviorally against the Go
  * sources cited per app; no code is ported.
  */
object Apps {

  /** Tokenizer parity with Go `strings.FieldsFunc(s, !unicode.IsLetter)`
    * (src/mrapps/wc.go:21-24): the one letter-token loop
    * ([[graft.functions.TextKernels.letterTokens]]) the DataFrame
    * tokenizer also runs, wrapped without a copy.
    */
  def letterTokens(s: String): Seq[String] =
    immutable.ArraySeq.unsafeWrapArray(TextKernels.letterTokens(s))

  /** Go `len(string)` is the UTF-8 byte length, not the char count. */
  def utf8Len(s: String): Int = s.getBytes(StandardCharsets.UTF_8).length

  /** Word count (src/mrapps/wc.go): emit (word,"1") per occurrence; reduce
    * counts occurrences.
    */
  object WordCount extends MrApp {
    val name = "wc"
    def map(file: String, contents: String): Seq[KV] =
      letterTokens(contents).map(KV(_, "1"))
    def reduce(key: String, values: Seq[String]): String = values.size.toString
  }

  /** Inverted index (src/mrapps/indexer.go): map dedupes words per document
    * (first occurrence kept) and emits (word, file); reduce returns
    * "<count> <doc1,doc2,...>" with the doc list sorted lexicographically
    * and comma-joined.
    */
  object Indexer extends MrApp {
    val name = "indexer"
    def map(file: String, contents: String): Seq[KV] = {
      val seen = new java.util.HashSet[String]
      letterTokens(contents).filter(seen.add).map(KV(_, file))
    }
    def reduce(key: String, values: Seq[String]): String =
      s"${values.size} ${values.sorted.mkString(",")}"
  }

  /** Deterministic twin of the crash app (src/mrapps/nocrash.go): map emits
    * (a, file), (b, len(file)), (c, len(contents)), (d, "xyzzy"); reduce
    * sorts values and space-joins them.
    */
  object NoCrash extends MrApp {
    val name = "nocrash"
    def map(file: String, contents: String): Seq[KV] = Seq(
      KV("a", file),
      KV("b", utf8Len(file).toString),
      KV("c", utf8Len(contents).toString),
      KV("d", "xyzzy"))
    def reduce(key: String, values: Seq[String]): String =
      values.sorted.mkString(" ")
  }

  /** Fault-injection twin (src/mrapps/crash.go): same emitted data as
    * NoCrash, but each map/reduce invocation may fail. The reference
    * crashes the whole worker process with p≈1/3; on Spark the analogous
    * fault domain is the task, so [[faultHook]] throws — Spark's task
    * retry (spark.task.maxFailures > 1, c.f. the reference's 10 s
    * preemption at src/mr/rpc.go:79-98) must recover and the output must
    * still byte-match NoCrash. Tests install a deterministic
    * first-attempt-fails hook.
    */
  final class Crash(faultHook: () => Unit) extends MrApp {
    val name = "crash"
    def map(file: String, contents: String): Seq[KV] = {
      faultHook()
      NoCrash.map(file, contents)
    }
    def reduce(key: String, values: Seq[String]): String = {
      faultHook()
      NoCrash.reduce(key, values)
    }
  }

  /** Job-count probe (src/mrapps/jobcount.go): asserts each map task runs
    * exactly once absent failures. The reference counts marker files; on
    * Spark the test counts map invocations with a LongAccumulator, so the
    * app just emits one ("a","x") per file and reduces to the count of
    * values — with speculation off this must equal the number of input
    * files.
    */
  object JobCount extends MrApp {
    val name = "jobcount"
    def map(file: String, contents: String): Seq[KV] = Seq(KV("a", "x"))
    def reduce(key: String, values: Seq[String]): String = values.size.toString
  }

  /** Early-exit probe (src/mrapps/early_exit.go): map emits (file,"1");
    * reduce counts. The reference's point — no output visible before ALL
    * outputs are finalized — maps to Spark's commit protocol: the write
    * action returns only after the job commit. The test asserts the output
    * is complete and stable at action return.
    */
  object EarlyExit extends MrApp {
    val name = "early_exit"
    def map(file: String, contents: String): Seq[KV] = Seq(KV(file, "1"))
    def reduce(key: String, values: Seq[String]): String = values.size.toString
  }

  /** Parallelism probes (src/mrapps/mtiming.go, rtiming.go): the reference
    * apps measure concurrently-alive workers via pid marker files. On Spark
    * the observable is concurrent running tasks; the tests measure it with
    * an accumulator-based high-water mark around a brief sleep, so the app
    * itself is just a pass-through over files / keys a..j.
    */
  object MapTiming extends MrApp {
    val name = "mtiming"
    def map(file: String, contents: String): Seq[KV] = {
      Thread.sleep(300)
      Seq(KV(file, "1"))
    }
    def reduce(key: String, values: Seq[String]): String = values.size.toString
  }

  object ReduceTiming extends MrApp {
    val name = "rtiming"
    def map(file: String, contents: String): Seq[KV] =
      ('a' to 'j').map(c => KV(c.toString, "1"))
    def reduce(key: String, values: Seq[String]): String = {
      Thread.sleep(300)
      values.size.toString
    }
  }

  /** All 8 reference apps are runnable by name. The registered `crash`
    * carries a no-op fault hook (no injected failures — behaves exactly
    * like the reference's crash app when the dice never fire, i.e. output
    * == nocrash); tests construct [[Crash]] with a real failing hook.
    */
  val registry: Map[String, MrApp] =
    (Seq(WordCount, Indexer, NoCrash, JobCount, EarlyExit, MapTiming,
      ReduceTiming) :+ new Crash(() => ())).map(a => a.name -> a).toMap
}
