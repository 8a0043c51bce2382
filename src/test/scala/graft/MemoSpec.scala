package graft

import graft.core.Memo
import org.scalatest.funsuite.AnyFunSuite

/** The memo store's ownership record, measured on the real corpus builds:
  * what each `_build_*` entry owns is what its run inserted, and the
  * store's bound is checked against that count rather than declared.
  */
class MemoSpec extends AnyFunSuite {

  test("memo warmers own disjoint keys that fit the bound; warm rebuilds keep deps") {
    // keys are per session: a fresh one keeps parallel suites' builds out
    // of the recorded sets
    val s = TestSpark.spark.newSession()
    val dir = TestSpark.sf0001
    try {
      val owned = SparkEntry.memoWarmers.map { case (n, w) =>
        n -> Memo.builtBy(s)(w(s, dir))
      }
      for ((n, keys) <- owned) {
        info(s"$n: ${keys.toSeq.map(_.stage).sorted.mkString(", ")}")
        assert(keys.nonEmpty, s"$n inserted no memo entry")
      }
      for (((a, ka), i) <- owned.zipWithIndex; (b, kb) <- owned.drop(i + 1))
        assert(ka.intersect(kb).isEmpty, s"$a and $b both own a key")
      // the "two test dirs stay eviction-free" claim of MaxStoreEntries
      val all = owned.flatMap(_._2).toSet
      assert(2 * all.size <= Memo.MaxStoreEntries,
        s"${all.size} keys per corpus; bound ${Memo.MaxStoreEntries}")

      // Bench.main's wiring for dd_pairs: its cold run starts with the
      // signatures stored and the pairs not
      Memo.evict(owned.toMap.apply("dd_pairs"))
      val ddPairs = SparkEntry.memoWarmers.toMap.apply("dd_pairs")
      val runs = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
      val rows = Bench.rerunBuild(s, "dd_pairs", 0.0) {
        runs += Memo.builtBy(s)(ddPairs(s, dir)).map(_.stage)
      }
      assert(rows.map(r => (r._1, r._3)) ==
        Seq(("_build_dd_pairs", true), ("_cold__build_dd_pairs", true)))
      assert(runs.size == 2)
      assert(runs(1).contains("pairs"), s"warm run rebuilt ${runs(1)}")
      assert(!runs(1).contains("sig"), "warm run re-MinHashed the corpus")
    } finally Memo.evict(Memo.keysOf(s))
  }

  test("memo builds and table loads register one listener per context, " +
    "not one per session") {
    val sc = TestSpark.spark.sparkContext
    def listeners(): Seq[String] = {
      TestSpark.drainBus(sc)
      TestSpark.busListeners(sc).map(_.getClass.getName)
    }
    def build(): Unit = {
      val s = TestSpark.spark.newSession()
      val docs = graft.tables.Tables.load(s, TestSpark.sf0001, "documents")
      try Memo("listener-probe", docs)(docs.select("doc_id").limit(1)).count()
      finally Memo.evict(Memo.keysOf(s))
    }
    build()
    val one = listeners()
    build(); build()
    val three = listeners()
    // Spark's own per-session listeners leave the bus when the context
    // cleaner collects their session, at a time the GC sets: the bus may
    // shrink, and ours must stay as they were
    def ours(ls: Seq[String]) = ls.filter(_.startsWith("graft.")).sorted
    assert(ours(three) === ours(one))
    assert(three.size <= one.size, s"${one.mkString(", ")} -> ${three.mkString(", ")}")
  }
}
