package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dsv2.BandStore

/** Row-level DELETE / UPDATE / MERGE on the band store: the group-based
  * copy-on-write path ([[graft.sources.dsv2.BandRowLevelOperation]])
  * through plain SQL against the catalog, plus the invariants that make
  * it safe at scale — only files the condition touches are rewritten
  * (runtime group filtering on `_file`), band-aligned deletes still never
  * rewrite a byte, every mutation is a new manifest version (time travel
  * serves the pre-image), and the epoch ledger survives.
  */
class RowLevelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private var n = 0
  /** Fresh catalog + empty store table; returns (catalog, table dir). */
  private def freshTable(): (String, Path) = {
    n += 1
    val cat = s"rlc$n"
    val wh = TestSpark.tempDir(s"graft-rls-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.dsv2.BandCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.t (doc_id BIGINT NOT NULL, " +
      "band INT NOT NULL, bkey STRING NOT NULL)")
    (cat, new Path(wh, "t"))
  }

  /** 4 bands per doc, deterministic keys; one task per insert so each
    * insert lands exactly one file per band.
    */
  private def bandRows(docs: Range): DataFrame =
    docs.flatMap(d => (0 until 4).map(b => (d.toLong, b, s"k$d-$b")))
      .toDF("doc_id", "band", "bkey")

  private def insert(cat: String, docs: Range): Unit = {
    bandRows(docs).coalesce(1).createOrReplaceTempView("rls_batch")
    spark.sql(s"INSERT INTO $cat.t SELECT doc_id, CAST(band AS INT), bkey " +
      "FROM rls_batch")
  }

  private def manifestNames(dir: Path): Set[String] =
    BandStore.readManifestFull(dir, spark.sessionState.newHadoopConf())
      ._1.map(_.name).toSet

  private def diskFiles(dir: Path): Set[String] = {
    val f = dir.getFileSystem(spark.sessionState.newHadoopConf())
    f.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".gsb")).toSet
  }

  test("SQL DELETE with a doc_id predicate is copy-on-write: matching " +
      "files rewritten, disjoint files keep their manifest entries, and " +
      "the pre-delete version still serves the rows") {
    val (cat, dir) = freshTable()
    insert(cat, 0 until 20)   // files b0..b3, docs 0-19
    insert(cat, 20 until 40)  // files b0..b3, docs 20-39
    val before = manifestNames(dir)
    assert(before.size == 8)
    val untouched = BandStore.readManifestFull(dir,
      spark.sessionState.newHadoopConf())._1.filter(_.minDoc >= 20).map(_.name).toSet
    assert(untouched.size == 4)

    spark.sql(s"DELETE FROM $cat.t WHERE doc_id = 5")

    val after = manifestNames(dir)
    // the second insert's files hold docs 20-39 only — the manifest's
    // min/max stats skip them statically, so their entries are untouched
    assert(untouched.subsetOf(after), "doc-disjoint files were rewritten")
    // the first insert's files all held doc 5 — every one replaced
    assert((before -- untouched).intersect(after).isEmpty,
      "a file containing deleted rows kept its manifest entry")
    assert(spark.table(s"$cat.t").filter($"doc_id" === 5).count() == 0)
    assert(spark.table(s"$cat.t").count() == 40 * 4 - 4)
    // versioned like every commit: v3 was the pre-image (create=1, +2 inserts)
    val pre = spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 3").head().getLong(0)
    assert(pre == 40 * 4)
  }

  test("SQL DELETE with a band predicate is still metadata-only — zero " +
      "data files written or removed on disk") {
    val (cat, dir) = freshTable()
    insert(cat, 0 until 30)
    val disk = diskFiles(dir)
    spark.sql(s"DELETE FROM $cat.t WHERE band = 2")
    assert(diskFiles(dir) == disk,
      "a band-aligned delete touched data files (expected a pure manifest swap)")
    assert(manifestNames(dir) == disk.filterNot(_.startsWith("b2-")))
    assert(spark.table(s"$cat.t").filter($"band" === 2).count() == 0)
    assert(spark.table(s"$cat.t").count() == 30 * 3)
  }

  test("SQL UPDATE rewrites matching rows in place and preserves the rest") {
    val (cat, _) = freshTable()
    insert(cat, 0 until 25)
    spark.sql(s"UPDATE $cat.t SET bkey = concat(bkey, '!') " +
      "WHERE doc_id % 10 = 3")
    val got = spark.table(s"$cat.t").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got.size == 25 * 4)
    for (d <- 0 until 25; b <- 0 until 4) {
      val want = if (d % 10 == 3) s"k$d-$b!" else s"k$d-$b"
      assert(got((d.toLong, b)) == want, s"doc $d band $b")
    }
  }

  test("SQL MERGE INTO upserts, updates, and deletes through runtime " +
      "group filtering — files disjoint from every source key keep their " +
      "manifest entries") {
    val (cat, dir) = freshTable()
    insert(cat, 0 until 20)   // group A: docs 0-19
    insert(cat, 20 until 40)  // group B: docs 20-39 (no source key lands here)
    val hconf = spark.sessionState.newHadoopConf()
    val groupB = BandStore.readManifestFull(dir, hconf)
      ._1.filter(_.minDoc >= 20).map(_.name).toSet
    assert(groupB.size == 4)

    // source: re-key docs 3 and 7 (matched-update), tombstone doc 12
    // (matched-delete), insert doc 99 (not-matched)
    Seq.tabulate(4)(b => (3L, b, s"K3-$b", "up")) ++
      Seq.tabulate(4)(b => (7L, b, s"K7-$b", "up")) ++
      Seq.tabulate(4)(b => (12L, b, "", "del")) ++
      Seq.tabulate(4)(b => (99L, b, s"k99-$b", "up")) match {
      case rows => rows.toDF("doc_id", "band", "bkey", "op")
        .createOrReplaceTempView("rls_src")
    }
    spark.sql(
      s"""MERGE INTO $cat.t t USING rls_src s
         |ON t.doc_id = s.doc_id AND t.band = s.band
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET bkey = s.bkey
         |WHEN NOT MATCHED THEN INSERT (doc_id, band, bkey)
         |  VALUES (s.doc_id, CAST(s.band AS INT), s.bkey)""".stripMargin)

    val got = spark.table(s"$cat.t").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got.size == 40 * 4 - 4 + 4) // -doc12, +doc99
    assert(!got.contains((12L, 0)))
    for (b <- 0 until 4) {
      assert(got((3L, b)) == s"K3-$b")
      assert(got((7L, b)) == s"K7-$b")
      assert(got((99L, b)) == s"k99-$b")
      assert(got((20L, b)) == s"k20-$b")
    }
    // every source key hits group A; group B's files must survive the
    // merge untouched (runtime group filtering pruned them from the
    // rewrite) — inserted rows land in NEW files, not rewrites of B
    assert(groupB.subsetOf(manifestNames(dir)),
      "files disjoint from the merge keys were rewritten")
  }

  test("a VERSION AS OF snapshot refuses row-level mutations") {
    val (cat, _) = freshTable()
    insert(cat, 0 until 5)
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.t VERSION AS OF 2 WHERE doc_id = 1")
    }
    assert(e.getMessage != null)
  }
}
