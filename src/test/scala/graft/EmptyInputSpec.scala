package graft

import graft.operators.{Dedup, Embeddings, Similarity, TextAnalysis}
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-corpus behavior of the public operator surface: a library user
  * pointing a pipeline at an empty (but well-formed) table must get an
  * empty result with the right schema — or, for operators whose
  * parameters are DERIVED from the data (quantizer seeds, codebooks),
  * the documented loud require. Silent crashes (NPE on a null aggregate,
  * head() on nothing) are the failure mode this spec exists to exclude.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val noDocs: DataFrame =
    Tables.load(spark, TestSpark.sf0001, "documents").filter(lit(false))
  private lazy val noEmb: DataFrame =
    Tables.load(spark, TestSpark.sf0001, "embeddings").filter(lit(false))

  test("connector round-trips on an empty corpus: empty store reads " +
    "empty; data-derived JDBC bounds require loudly") {
    // an empty-but-well-formed documents table, reachable via sfDir (the
    // round-trips take a directory, not a frame)
    val dir = TestSpark.tempDir("graft-empty-sf").toString
    noDocs.write.parquet(s"$dir/documents.parquet")
    val summary = graft.sources.Sources.dsv2RoundTrip(spark, dir)
    assert(summary.count() === 0, "empty band store must summarize empty")
    assert(summary.schema.fieldNames.contains("checksum_sum"))
    // compaction of the empty store is a no-op, not a crash
    assert(graft.sources.dsv2.BandStoreMaintenance
      .compact(spark, graft.sources.Sources.staged("graft-empty-bands"))
      === ((0, 0)))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sources.jdbcRoundTrip(spark, dir)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("the curation pipeline on an empty corpus: four (0, 0) stages, " +
    "an empty final frame") {
    val dir = TestSpark.tempDir("graft-empty-curation").toString
    noDocs.write.parquet(s"$dir/documents.parquet")
    val (counts, fin) = graft.examples.CurationPipeline.run(spark, dir)
    assert(counts === Seq("raw", "quality", "deduped", "train").map(_ -> ((0L, 0L))))
    assert(fin.count() === 0)
    assert(fin.columns.toSeq === Seq("doc_id", "source", "split", "seq_id"))
  }

  test("scan-stage text operators return empty frames, schema intact") {
    for ((name, df) <- Seq(
      "tokenStats" -> TextAnalysis.tokenStats(noDocs),
      "qualityScores" -> TextAnalysis.qualityScores(noDocs),
      "gopherRules" -> TextAnalysis.gopherRules(noDocs),
      "langId" -> TextAnalysis.langId(noDocs),
      "fingerprints" -> TextAnalysis.fingerprints(noDocs),
      "trainValTest" -> TextAnalysis.trainValTest(noDocs),
      "weightedSample" -> TextAnalysis.weightedSample(noDocs),
      "repetitionScores" -> TextAnalysis.repetitionScores(noDocs))) {
      assert(df.count() === 0, s"$name not empty")
      assert(df.schema.nonEmpty, s"$name lost its schema")
    }
  }

  test("sixth-session operators handle an empty corpus") {
    import org.apache.spark.sql.functions.lit
    // native sessionize: empty in, empty out, session_id in the schema
    val noEvents = Tables.events(spark, TestSpark.sf0001).filter(lit(false))
      .select("user_id", "event_id", "ts_ns")
    val sess = graft.plans.Sessionize
      .assign(noEvents, "user_id", Seq("event_id"), "ts_ns", 1L)
    assert(sess.count() === 0 && sess.columns.contains("session_id"))
    // forward as-of over two empty sides: empty result, joined schema
    val fwd = graft.plans.AsOfJoin.asOf(
      noEvents, noEvents.toDF("u2", "e2", "t2"),
      "user_id", "u2", "ts_ns", "t2", Seq("e2"), forward = true)
    assert(fwd.count() === 0)
    // RAKE / TextRank / JW pairs over an empty corpus
    assert(TextAnalysis.rakeKeywords(noDocs).count() === 0)
    assert(Dedup.jaroWinklerPairs(noDocs).count() === 0)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.textrank(noDocs).collect()
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
    // silhouette over an empty embedding table: empty, never a crash
    assert(Embeddings.silhouette(noEmb).count() === 0)
  }

  test("round-10 content operators handle an empty corpus") {
    import graft.operators.Multimodal
    assert(Multimodal.edgeStats(noDocs).count() === 0)
    assert(Multimodal.motionStats(noDocs).count() === 0)
    assert(TextAnalysis.distinctiveWords(noDocs).count() === 0)
    assert(Multimodal.audioAutocorr(
      Multimodal.synthesizeMedia(noDocs)).count() === 0)
  }

  test("fifth-session operators handle an empty corpus") {
    import graft.operators.Multimodal
    // audio/image features over an empty media set
    assert(Multimodal.audioZcr(
      Multimodal.synthesizeMedia(noDocs)).count() === 0)
    assert(Multimodal.dhash(noDocs).count() === 0)
    // corpus profiles produce empty (not crashing) heads
    assert(TextAnalysis.zipfProfile(noDocs).count() === 0)
    assert(TextAnalysis.burstiness(noDocs).count() === 0)
    // the blocking evaluation degenerates to one all-zero row with the
    // NULL-guarded ratios, never a division error
    val r = Dedup.blockingEval(noDocs).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 0L && r.head.isNullAt(4)
      && r.head.isNullAt(5))
  }

  test("native as-of join: empty sides degrade to outer-null / empty") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("user_id", "pid", "ts")
    val right = Seq((1L, 20L, 50L)).toDF("r_user", "cid", "r_ts")
    val emptyRight = right.filter(lit(false))
    val emptyLeft = left.filter(lit(false))
    val r1 = graft.plans.AsOfJoin.asOf(left, emptyRight,
      "user_id", "r_user", "ts", "r_ts").collect()
    assert(r1.length === 1 && r1.head.isNullAt(4),
      "empty right keeps every left row with null right columns")
    assert(graft.plans.AsOfJoin.asOf(emptyLeft, right,
      "user_id", "r_user", "ts", "r_ts").count() === 0)
  }

  test("dedup operators handle an empty corpus") {
    assert(Dedup.exact(noDocs).count() === 0)
    assert(Dedup.prefixJaccardPairs(noDocs, 0.5).count() === 0)
    assert(Dedup.containmentPairs(noDocs, 0.8).count() === 0)
    assert(Dedup.sortedNeighborhoodPairs(noDocs).count() === 0)
    assert(Dedup.damerauPairs(noDocs).count() === 0)
    assert(Dedup.minhashLshPairs(noDocs).count() === 0)
    assert(Dedup.simhashPairs(noDocs).count() === 0)
    assert(Dedup.duplicateClusters(noDocs).count() === 0)
    assert(Dedup.resolveClusters(noDocs).count() === 0)
    assert(Dedup.paragraphDedup(noDocs).count() === 0)
    assert(Dedup.winnowFingerprints(noDocs).count() === 0)
  }

  test("embedding statistics are empty-safe; seeded quantizers require data") {
    assert(Embeddings.stats(noEmb).count() === 0)
    assert(Embeddings.quantizeInt8(noEmb).count() === 0)
    assert(Embeddings.centroids(noEmb).count() === 0)
    assert(Embeddings.randomProject(noEmb).count() === 0)
    assert(Embeddings.gramMatrix(noEmb).count() === 0)
    // parameter-deriving operators refuse loudly, never NPE
    val e1 = intercept[IllegalArgumentException] {
      Embeddings.pcaProject(noEmb).count()
    }
    assert(e1.getMessage.contains("empty"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(noEmb, noEmb, 5).count()
    }
    assert(e2.getMessage.contains("empty"))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(noEmb, noEmb, 5).count()
    }
    assert(e3.getMessage.contains("empty"))
  }

  test("packing / sharding / capping over nothing produce nothing") {
    assert(TextAnalysis.packSequences(noDocs).count() === 0)
    assert(TextAnalysis.shuffleShards(noDocs).count() === 0)
    assert(TextAnalysis.sourceCap(noDocs).count() === 0)
    assert(Similarity.bruteForceTopK(noEmb, noEmb, 5).count() === 0)
  }

  test("retrieval / scoring / outlier operators over nothing produce nothing") {
    assert(TextAnalysis.bm25TopDocs(noDocs).count() === 0)
    assert(TextAnalysis.hashingTf(noDocs).count() === 0)
    assert(TextAnalysis.collocations(noDocs).count() === 0)
    assert(TextAnalysis.dsirWeights(noDocs).count() === 0)
    assert(TextAnalysis.noveltyScores(noDocs).count() === 0)
    assert(Embeddings.outlierFlags(noEmb).count() === 0)
  }

  test("perceptual-hash operators over nothing produce nothing") {
    import graft.operators.Multimodal
    assert(Multimodal.phash(noDocs).count() === 0)
    assert(Multimodal.phashPairs(noDocs).count() === 0)
    assert(Multimodal.pixelStats(noDocs).count() === 0)
    assert(Multimodal.pixelHistogram(noDocs).count() === 0)
    assert(Dedup.hammingPairs60(
      Multimodal.phash(noDocs), "phash60", 2).count() === 0)
  }
}
