package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level properties the DuckDB oracle can't express:
  * LSH recall vs the exact baselines, and equivalence of the banded
  * (scale-path) joins with their O(n²) definitions.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
  lazy val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  test("cdc chunking: identical docs share all chunks; an insertion only " +
    "reshapes chunks around the edit") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog. " * 30).trim
    // insert a phrase in the middle — the CDC property under test
    val edited = base.substring(0, 600) + " INSERTED PHRASE HERE " +
      base.substring(600)
    val planted = Seq(
      (1L, base, "en", "a", 0L), (2L, base, "en", "b", 0L),
      (3L, edited, "en", "c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.cdcChunkSummary(planted).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    // identical docs: every distinct chunk shared
    assert(out(1L)._2 === out(1L)._3, s"doc1 ${out(1L)}")
    assert(out(1L) === out(2L))
    // the edited doc still shares MOST of its chunks with the original
    val (_, dist3, shared3) = out(3L)
    assert(dist3 > 0 && shared3 >= dist3 / 2,
      s"insertion must preserve most chunk identities: $dist3 distinct, " +
        s"$shared3 shared")
    // chunk lengths partition each doc exactly (n_chunks * avg == n_chars
    // is too weak; re-chunk driver-side and check coverage)
    val onlyBase = Dedup.cdcChunkSummary(planted.filter(col("doc_id") === 1))
      .head()
    assert(onlyBase.getLong(1) === base.length.toLong)
    assert(onlyBase.getLong(5) === 0L, "no other doc -> nothing shared")
  }

  test("exact dedup partitions the corpus: sum of copies == corpus size") {
    val d = Dedup.exact(docs).agg(sum("n_copies")).head.getLong(0)
    assert(d === docs.count())
  }

  test("minhash-LSH recall >= 0.9 on high-jaccard (>=0.8) pairs") {
    val truth = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-duplicates")
    val got = Dedup.minhashLshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
  }

  test("shingle df-cap drops stop-shingles but keeps every planted pair") {
    import spark.implicits._
    // 12 docs all sharing the boilerplate trigram "lorem ipsum dolor"
    // (df = 12 > cap); docs 0/1 are near-duplicates through CONTENT
    // trigrams (df = 2). With dfCap=8 the boilerplate shingle must stop
    // pairing unrelated docs, while the content pair still surfaces.
    val tiny = (0 until 12).map { i =>
      val unique =
        if (i <= 1) "alpha beta gamma delta epsilon zeta"
        else s"unique$i only$i words$i here$i now$i then$i"
      (i.toLong, s"lorem ipsum dolor $unique")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(tiny, 0.3, dfCap = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 1L)),
      s"only the content near-dup pair should survive the cap, got $capped")
    // uncapped baseline: the df-12 boilerplate shingle pairs EVERY doc
    // combination — the quadratic fan-out the cap exists to bound
    val uncapped = Dedup.ngramJaccardPairs(tiny, 0.0, dfCap = 1000)
      .select("a_id", "b_id").collect()
    assert(uncapped.length === 12 * 11 / 2, s"got ${uncapped.length}")
    // at the driver SFs the default cap of 100 drops nothing (max df 25
    // at sf0.1): capped result == uncapped result on the real corpus
    val a = Dedup.ngramJaccardPairs(docs, 0.8)
      .orderBy("a_id", "b_id").collect().toSeq.toString
    val b = Dedup.ngramJaccardPairs(docs, 0.8, dfCap = Int.MaxValue)
      .orderBy("a_id", "b_id").collect().toSeq.toString
    assert(a === b, "default cap must be a no-op on the test corpus")
  }

  test("prefix-filtering jaccard == exact all-pairs jaccard (candidate completeness)") {
    // full-row equality (ids, counts, AND jaccard values), at a high and
    // a low threshold: the prefix lemma must not miss a single pair
    for (tau <- Seq(0.8, 0.3)) {
      val exact = Dedup.ngramJaccardPairs(docs, tau, dfCap = Int.MaxValue)
        .orderBy("a_id", "b_id").collect().toSeq
      val viaPrefix = Dedup.prefixJaccardPairs(docs, tau)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(exact.nonEmpty, s"tau=$tau should match planted pairs")
      assert(viaPrefix === exact, s"tau=$tau prefix join diverged")
    }
  }

  test("prefix top-k: per-doc bound holds and scores agree with the exact join") {
    val k = 3
    val topk = Dedup.prefixTopK(docs, 0.5, k).collect()
    // the production cap: NO doc carries more than k candidates, ranks are
    // dense 1..m, and the rank order follows (overlap desc, cand_id asc)
    val perDoc = topk.groupBy(_.getAs[Long]("doc_id"))
    perDoc.foreach { case (d, rows) =>
      assert(rows.length <= k, s"doc $d has ${rows.length} > $k candidates")
      val byRk = rows.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq == (1 to rows.length),
        s"doc $d ranks not dense")
      val keys = byRk.map(r =>
        (-r.getAs[Long]("overlap"), r.getAs[Long]("cand_id")))
      assert(keys.sameElements(keys.sorted), s"doc $d rank order broken")
    }
    // verify parity: every surviving (doc, cand) pair's jaccard must equal
    // the exact enumerator's for that pair (when the pair qualifies there)
    val exact = Dedup.prefixJaccardPairs(docs, 0.5).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Double]("jaccard"))).toMap
    val checked = topk.flatMap { r =>
      val (d, c) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cand_id"))
      exact.get((math.min(d, c), math.max(d, c)))
        .map(j => (d, c, j, r.getAs[Double]("jaccard")))
    }
    assert(checked.nonEmpty, "no overlap with the exact join at sf0.001")
    checked.foreach { case (d, c, want, got) =>
      assert(got == want, s"pair ($d,$c): topk jaccard $got != exact $want")
    }
  }

  test("prefix-filtering jaccard: boilerplate shingles stay out of prefixes") {
    import spark.implicits._
    // one df-12 boilerplate shingle, one true content pair. Suffixes are
    // LETTERS (digits would be stripped by the non-letter tokenizer,
    // collapsing docs 2..11 into exact duplicates). At tau=0.5 every
    // doc's prefix is its RAREST shingles, so the hot shingle generates
    // no candidates and only the content pair survives — without any
    // frequency cap.
    val tiny = (0 until 12).map { i =>
      val t = ('a' + i).toChar
      val unique =
        if (i <= 1) "alpha beta gamma delta epsilon zeta"
        else s"unique$t only$t words$t here$t now$t then$t"
      (i.toLong, s"lorem ipsum dolor $unique")
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(tiny, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L)), s"got $got")
  }

  test("sorted-neighborhood pairs are window-bounded in the global order") {
    import spark.implicits._
    // 8 identical docs sort rank-adjacent: SNM must emit exactly the
    // pairs within rank distance <= 4 — sum_{d=1..4} (8-d) = 22 — and
    // nothing beyond the window even though all 8 are identical
    val df = (0 until 8).map(i => (i.toLong, "identical text body here"))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(df, window = 4, minSim = 0.9)
      .collect()
    assert(got.length === 22, s"got ${got.length} pairs")
    assert(got.forall(_.getAs[Double]("edit_sim") === 1.0))
    assert(got.forall(r => r.getAs[Int]("rank_dist") >= 1
      && r.getAs[Int]("rank_dist") <= 4))
  }

  test("containment catches subset duplicates jaccard misses") {
    import spark.implicits._
    // doc 1 is the first 12 words of doc 0 quoted whole: J ~ 10/58 (far
    // below any dedup threshold) but C = 1.0 — the embedded-copy signal
    val words = (0 until 60).map(i =>
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}word")
    val df = Seq(
      (0L, words.mkString(" ")),
      (1L, words.take(12).mkString(" ")),
      (2L, "completely unrelated text about other things entirely here"),
    ).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(df, 0.5).count() === 0,
      "jaccard must NOT flag the subset pair")
    val got = Dedup.containmentPairs(df, 0.9).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("contained_id") === 1L)
    assert(r.getAs[Long]("container_id") === 0L)
    assert(r.getAs[Double]("containment") === 1.0)
  }

  test("LSH-prefiltered jaccard verify == exact all-pairs jaccard on planted dups") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.ngramJaccardPairsViaLsh(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exact), "verify stage must never admit a false positive")
    val recall = exact.count(viaLsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH-prefiltered recall $recall over ${exact.size}")
  }

  test("banded simhash join == direct pairwise hamming join") {
    val sh = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val direct = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 9
    } yield (a, b, h)).toSet
    val banded = Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === direct)
  }

  test("simhash pigeonhole banding is exact at h = 3, 9, 15 (uneven chunk widths)") {
    // h+1 ∈ {4, 10, 16} chunks over 60 bits: 4×15 (even), 10×6 (even),
    // and 16 chunks of 12×4 + 4×3 bits — the uneven-width split path
    val sh = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    for (h <- Seq(3, 9, 15)) {
      val direct = (for {
        (a, ha) <- sh; (b, hb) <- sh if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= h
      } yield (a, b, d)).toSet
      val banded = Dedup.simhashPairs(docs, h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded === direct, s"maxHamming=$h")
    }
  }

  test("incremental LSH == full-corpus LSH restricted to pairs touching the batch") {
    val split = docs.agg(expr("(max(doc_id) + 1) div 2")).head.getLong(0)
    val store = TestSpark.tempDir("graft-test-sigstore")
    try {
      Dedup.writeSignatureStore(docs.filter(col("doc_id") < split), store.toString)
      val inc = Dedup
        .incrementalLshPairs(spark, store.toString, docs.filter(col("doc_id") >= split))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.minhashLshPairs(docs)
        .filter(col("a_id") >= split || col("b_id") >= split)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc === full)
      assert(inc.nonEmpty, "the split should leave planted dup pairs touching the batch")
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val children = java.nio.file.Files.list(p)
          try children.forEach(rm(_)) finally children.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(store)
    }
  }

  test("r16 shared stores: sig-filter == signing the half; verified pairs == exact join") {
    // (a) a doc's signature is row-local, so FILTERING the full-corpus
    // signature store is the same frame dd_incremental used to build by
    // signing each half separately (two redundant corpus scans)
    val split = docs.agg(expr("(max(doc_id) + 1) div 2")).head.getLong(0)
    val fromStore = Dedup.minhashSignatures(docs)
      .filter(col("doc_id") < split).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val direct = Dedup.rowLocalSignatures(docs.filter(col("doc_id") < split))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fromStore === direct)
    // (b) the memoized LSH-verified pair store agrees value-for-value with
    // the INDEPENDENT exact shared-shingle join on every pair it emits
    // (store: per-pair collect_set arrays; exact join: shingle self-join)
    val exact = Dedup.ngramJaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val viaStore = Dedup.ngramJaccardPairsViaLsh(docs, 0.5).collect()
    assert(viaStore.nonEmpty, "planted near-dups must survive the LSH valve")
    viaStore.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact.contains(k), s"store pair $k missing from the exact join")
      assert(exact(k) === ((r.getInt(2).toLong, r.getInt(3).toLong, r.getDouble(4))),
        s"(inter, uni, jaccard) differ for $k")
    }
  }

  test("simhash near-dup pairs agree with high-jaccard truth") {
    val truth = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = Dedup.simhashPairs(docs)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(simPairs.contains).toDouble / truth.size
    assert(recall >= 0.8, s"simhash recall $recall on ${truth.size} jaccard pairs")
  }

  test("duplicate clusters: pairs co-clustered, labels are component minima, transitive") {
    val pairs = Dedup.minhashLshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.duplicateClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every candidate pair landed in one cluster
    for ((a, b) <- pairs) assert(label(a) === label(b), s"pair ($a,$b) split")
    // label of each cluster == min member; is_rep marks exactly that member
    val byCluster = clusters.groupBy(_._2)
    for ((cl, ms) <- byCluster) {
      assert(ms.map(_._1).min === cl, s"cluster $cl label is not the min member")
      assert(ms.count(_._3 == 1) === 1 && ms.find(_._3 == 1).get._1 === cl)
    }
    // full transitivity: clusters == connected components of the pair graph
    // (driver-side union-find over the same edges)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) parent(find(a)) = find(b)
    val byRoot = clusters.map(c => find(c._1) -> c._1).groupBy(_._1)
    for ((_, g) <- byRoot; want = g.map(_._2).min; (_, doc) <- g)
      assert(label(doc) === want, s"doc $doc component")
    // every document got a verdict
    assert(clusters.length === docs.count())
  }

  test("duplicate clusters: a warm call keeps only the final label snapshot") {
    val sc = spark.sparkContext
    Dedup.duplicateClusters(docs).count() // warms the memoized LSH pairs
    val before = sc.getPersistentRDDs.keySet
    val out = Dedup.duplicateClusters(docs)
    val added = sc.getPersistentRDDs.keySet -- before
    // the edge list and every superseded snapshot were released; what the
    // returned frame reads is the one checkpoint still held
    val read = out.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(added.size === 1, s"new persistent RDDs: $added")
    assert(read.toSet === added)
  }

  test("edit-distance verify: zero distance iff exact duplicate text") {
    val texts = docs.collect().map(r =>
      r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("text"))).toMap
    val ed = Dedup.editDistancePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(ed.nonEmpty)
    for ((a, b, d, sim) <- ed) {
      assert((d == 0) === (texts(a) == texts(b)), s"pair ($a,$b) dist $d")
      assert(sim >= 0.0 && sim <= 1.0)
      if (d == 0) assert(sim === 1.0)
    }
  }

  test("LSH ANN returns a subset ranking consistent with brute force, recall measured") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    // 8 tables x 4-bit SRP with hamming-1 multi-probe on near-uniform
    // 64-dim data (exact-bucket-only recall measured 0.60; the floor
    // guards against regressions to single-probe/single-table behavior)
    assert(recall >= 0.7, s"ANN recall $recall")
    info(f"lsh ann recall@5 = $recall%.2f")
  }

  test("IVF ANN recall measured against brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    // probing 4 of 16 coarse cells scans ~1/4 of the corpus
    assert(recall >= 0.3, s"IVF recall $recall")
    info(f"ivf ann recall@5 = $recall%.2f")
  }

  test("PQ ANN == driver-side replay; recall vs brute force measured") {
    val queries = emb.filter(col("vec_id") < 20)
    val got = Similarity.pqTopK(queries, emb, 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    // independent full replay on the driver
    val raw = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val quant = raw.flatMap { case (id, v) =>
      val m = v.map(math.abs).max
      if (m == 0.0) None
      else Some(id -> v.map(x => math.floor(x * 127.0 / m + 0.5)))
    }
    val seeds = quant.take(16)
    val d = seeds.head._2.length
    val sd = d / 8
    def sub(v: Array[Double], m: Int) = v.slice(m * sd, (m + 1) * sd)
    def cosOrFloor(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      val na = a.map(x => x * x).sum
      val nb = b.map(x => x * x).sum
      if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val recon = quant.map { case (id, v) =>
      id -> (0 until 8).flatMap { m =>
        val best = seeds.minBy { case (cid, cv) =>
          (-cosOrFloor(sub(v, m), sub(cv, m)), cid)
        }
        sub(best._2, m)
      }.toArray
    }.toMap
    val want = quant.filter(_._1 < 20).flatMap { case (qid, qv) =>
      quant.filter(_._1 != qid)
        .map { case (nid, _) =>
          (nid, recon(nid).zip(qv).map(p => p._1 * p._2).sum.toLong) }
        .sortBy { case (nid, adc) => (-adc, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, _), i) => (qid, i + 1, nid) }
    }.toSeq
    assert(got === want)

    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = got.map(t => (t._1, t._3)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // 16-codeword × 8-subspace reconstruction of near-uniform vectors is
    // a coarse code: the floor only guards against degenerate encodings
    assert(recall >= 0.1, s"PQ recall $recall")
    info(f"pq ann recall@5 = $recall%.2f")
  }

  test("IVF+PQ composition: candidates come from probed cells only") {
    val queries = emb.filter(col("vec_id") < 20)
    val ivfpq = Similarity.ivfPqTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(ivfpq.nonEmpty)
    // every returned neighbor must live in a cell the query probed — i.e.
    // be among the IVF candidate set (IVF with a large k bounds it)
    val ivfWide = Similarity.ivfTopK(queries, emb, 100000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivfpq.forall(ivfWide.contains),
      "ivfpq returned a neighbor outside the probed cells")
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(ivfpq.toSet.contains).toDouble / exact.size
    info(f"ivfpq ann recall@5 = $recall%.2f")
    assert(recall >= 0.05, s"IVF+PQ recall $recall")
  }

  test("minhash estimate tracks exact jaccard on candidate pairs") {
    val rows = Dedup.minhashEstimates(docs).collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // candidates are conditioned on a band collision, so low-J pairs are
    // upper-biased (floor 4/K) — the MAE bound reflects that, and the
    // skip-verify property only needs the high end to estimate high
    val mae = rows.map { case (est, ex) => math.abs(est - ex) }.sum / rows.length
    assert(mae < 0.35, s"mean |est - exact| = $mae over ${rows.length} pairs")
    rows.filter(_._2 >= 0.8).foreach { case (est, ex) =>
      assert(est >= 0.5, s"exact $ex estimated only $est")
    }
    // and the estimator must order high-J pairs above low-J pairs on average
    val (hi, lo) = rows.partition(_._2 >= 0.5)
    if (hi.nonEmpty && lo.nonEmpty)
      assert(hi.map(_._1).sum / hi.size > lo.map(_._1).sum / lo.size)
  }

  test("fingerprints are stable keys: same normalized text -> same fp60") {
    val fp = TextAnalysis.fingerprints(docs)
    assert(fp.groupBy("fp_md5").count().filter(col("count") > 1).count() === 0)
    assert(fp.filter(col("fp60") < 0).count() === 0) // 60-bit => always positive
  }

  test("cluster resolution keeps exactly the longest member of every cluster") {
    val res = Dedup.resolveClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))) // (doc_id, cluster_id, n_chars, n_members, keep)
    assert(res.length === docs.count(), "a verdict for every document")
    val byCluster = res.groupBy(_._2)
    byCluster.foreach { case (c, ms) =>
      assert(ms.count(_._5 == 1) === 1, s"cluster $c keeps exactly one member")
      // the keep policy: longest n_chars, ties toward the smallest doc_id
      val winner = ms.minBy(m => (-m._3, m._1))
      assert(ms.find(_._5 == 1).get._1 === winner._1, s"cluster $c winner")
      assert(ms.forall(_._4 == ms.length), s"cluster $c n_members")
    }
    // the planted near-dups must produce at least one real multi-doc cluster
    assert(byCluster.exists(_._2.length >= 2))
    // and resolution never invents clusters: same partition as duplicateClusters
    val fromClusters = Dedup.duplicateClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.forall { case (id, c, _, _, _) => fromClusters(id) == c })
  }

  test("winnowFingerprints == driver-side replay; every window covered") {
    import org.apache.spark.unsafe.types.UTF8String
    val width = 4; val win = 4
    val got = Dedup.winnowFingerprints(docs, width, win).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (id, xs) =>
        id -> xs.map(x => (x._2, x._3)).toSet
      }
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = raw.flatMap { case (id, text) =>
      val w = text.split("[^\\p{L}]+").filter(_.nonEmpty)
      if (w.length < width + win - 1) None
      else {
        val hs = (0 to w.length - width).map(i =>
          graft.functions.FnvHash.poly31(
            UTF8String.fromString(w.slice(i, i + width).mkString(" "))))
        val sel = (0 to hs.length - win).flatMap { i =>
          val mn = hs.slice(i, i + win).min
          val pos = (i until i + win).filter(j => hs(j) == mn).max
          // 1-based positions in the operator output
          Some((pos + 1, mn))
        }.toSet
        Some(id -> sel)
      }
    }.toMap
    assert(got.keySet === expected.keySet, "same documents fingerprinted")
    got.foreach { case (id, sel) => assert(sel === expected(id), s"doc $id") }
    // the winnowing density guarantee: every window holds >= 1 selection
    expected.foreach { case (id, sel) =>
      val poss = sel.map(_._1)
      val n = raw.toMap.apply(id).split("[^\\p{L}]+").count(_.nonEmpty) - width + 1
      (1 to n - win + 1).foreach { i =>
        assert(poss.exists(p => p >= i && p < i + win),
          s"doc $id window at $i has no fingerprint")
      }
    }
  }

  test("semanticDedup and randomProject degrade to empty results on an empty table") {
    val empty = emb.filter(col("vec_id") < 0)
    assert(Dedup.semanticDedup(empty).count() === 0)
    assert(graft.operators.Embeddings.randomProject(empty).count() === 0)
  }

  test("semanticDedup == driver-side brute force (buckets, top-1, verdicts)") {
    // independent reference: recompute int8 quantization, md5-parity plane
    // signs, SRP bucket codes and within-bucket top-1 from the raw vectors
    val planes = 6
    def sign(p: Int, d: Int): Double = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sd:$p,$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(md5.take(15), 16) % 2 == 1) 1.0 else -1.0
    }
    val raw = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val q = raw.flatMap { case (id, v) =>
      val m = v.map(math.abs).max
      if (m <= 0) None
      else Some(id -> v.map(x => math.floor(x * 127.0 / m + 0.5)))
    }
    val dim = raw.head._2.length
    val planeVec = Array.tabulate(planes, dim)(sign)
    val bucketOf = q.map { case (id, qv) =>
      id -> (0 until planes).map { p =>
        val d = (0 until dim).map(i => planeVec(p)(i) * qv(i)).sum
        if (d >= 0) 1L << p else 0L
      }.sum
    }.toMap
    val expected = q.map { case (id, qa) =>
      val na = qa.map(x => x * x).sum.toLong
      val peers = q.filter { case (b, _) => b != id && bucketOf(b) == bucketOf(id) }
      val scored = peers.map { case (bid, qb) =>
        val dot = (0 until dim).map(i => qa(i) * qb(i)).sum.toLong
        val nb = qb.map(x => x * x).sum.toLong
        val s = (if (dot < 0) -(dot * dot) else dot * dot).toDouble / (na * nb).toDouble
        (bid, s)
      }
      val top: Option[(Long, Double)] =
        if (scored.isEmpty) None
        else Some(scored.minBy { case (bid, s) => (-s, bid) })
      id -> ((bucketOf(id), peers.length + 1, top))
    }.toMap
    val got = Dedup.semanticDedup(emb, planes).collect()
    assert(got.length === q.length, "one row per non-zero vector")
    got.foreach { r =>
      val id = r.getLong(0)
      val (bkt, nb, top) = expected(id)
      assert(r.getLong(1) === bkt, s"bucket of $id")
      assert(r.getLong(2) === nb.toLong, s"bucket population of $id")
      top match {
        case Some((nnId, s)) =>
          assert(r.getLong(3) === nnId, s"top-1 peer of $id")
          assert(r.getDouble(4) === s, s"scos2 of $id (must be bit-identical)")
          assert(r.getInt(5) === (if (s >= 0.81) 1 else 0), s"verdict of $id")
        case None =>
          assert(r.isNullAt(3) && r.isNullAt(4) && r.getInt(5) === 0,
            s"singleton-bucket row of $id")
      }
    }
  }

  test("rowLocalSignatures == groupBySignatures on the real corpus") {
    val docs = graft.tables.Tables.load(spark, TestSpark.sf0001, "documents")
    val a = Dedup.rowLocalSignatures(docs).orderBy("doc_id").collect()
    val b = Dedup.groupBySignatures(docs).orderBy("doc_id").collect()
    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra.toSeq === rb.toSeq, s"signature mismatch at doc ${ra.getLong(0)}")
    }
    // and the row-local form must plan with no exchange before a consumer
    val plan = Dedup.rowLocalSignatures(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("rowLocalSignatures == groupBySignatures on hand-made edge documents") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha beta gamma"),                  // exactly 3 tokens
      (2L, "a b c a b c"),                       // a repeated shingle
      (3L, "Ärger über Straße, 中文 λόγος Жук 𝒜x"), // non-ASCII tokens
      (4L, "only two"),                          // < 3 tokens: drops out
      (5L, "12, 34 -- 56"))                      // no tokens: drops out
    // a local frame (evaluated interpreted, folded at optimization) and an
    // RDD-backed one (evaluated in generated code)
    val local = rows.toDF("doc_id", "text")
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("doc_id", "text")
    for (d <- Seq(local, distributed)) {
      val a = Dedup.rowLocalSignatures(d).orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = Dedup.groupBySignatures(d).orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a.map(_.head) === Seq(1L, 2L, 3L))
      assert(a.forall(_.length === 33))
      assert(a === b)
    }
  }

  test("rowLocalSignatures plan: one kernel evaluation, no exchange, no lambda") {
    val docs = graft.tables.Tables.load(spark, TestSpark.sf0001, "documents")
    val plan = Dedup.rowLocalSignatures(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("lambdafunction"), plan)
    // read 32 times by index, evaluated once: not inlined by CollapseProject
    assert("minhash_signature\\(".r.findAllMatchIn(plan).size === 1, plan)
  }

  test("paragraphDedup: globally-first occurrence survives, cleaned text rebuilds") {
    import spark.implicits._
    // chunkTokens=3; doc 1 owns chunk "a b c"; doc 2 repeats it twice (one
    // cross-doc dup, one within-doc dup of its own second chunk position);
    // doc 3 is all-unique; doc 4 is too short to chunk at all
    val docs = Seq(
      (1L, "a b c x y z"),          // chunks: "a b c", "x y z"
      (2L, "a b c a b c q r s"),    // chunks: "a b c"(dup), "a b c"(dup), "q r s"
      (3L, "m n o"),                // chunk:  "m n o"
      (4L, "t u")                   // no full chunk
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, chunkTokens = 3)
      .orderBy("doc_id").collect()
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ===
      Seq(
        (1L, 2L, 2L, md5("a b c x y z")),
        (2L, 3L, 1L, md5("q r s")),
        (3L, 1L, 1L, md5("m n o"))))
  }

  test("contaminationBloom: exact output, speculation-safe on short docs") {
    import spark.implicits._
    // n=3 grams; corpus doc 10 contains the eval doc verbatim (contaminated),
    // doc 11 shares nothing, doc 12 is SHORTER than n (must neither error —
    // the InferFiltersFromGenerate speculative-evaluation hazard — nor appear)
    val corpus = Seq(
      (10L, "the quick brown fox jumps"),
      (11L, "entirely different words here now"),
      (12L, "too short")
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val got = Dedup.contaminationBloom(corpus, evalSet, n = 3, minFrac = 0.3)
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSeq ===
      Seq((10L, 3L, 2L, 1), (11L, 3L, 0L, 0)))
  }

  test("soundex golden vectors: Spark's builtin matches the classic codes " +
    "the DuckDB oracle's translate-chain was verified against") {
    import spark.implicits._
    // the exact vectors the oracle SQL was prototyped on — H/W bridging
    // (ashcraft A261), vowel-broken runs (tymczak T522), first-letter run
    // suppression (pfister P236, jackson J250), padding (lee L000)
    val expect = Seq(
      "robert" -> "R163", "rupert" -> "R163", "ashcraft" -> "A261",
      "ashcroft" -> "A261", "tymczak" -> "T522", "pfister" -> "P236",
      "honeyman" -> "H555", "jackson" -> "J250", "washington" -> "W252",
      "lee" -> "L000", "gutierrez" -> "G362", "vandeusen" -> "V532",
      "aubrey" -> "A160", "wood" -> "W300", "woods" -> "W320",
      "chocolate" -> "C243", "czar" -> "C600", "pfft" -> "P300",
      "lloyd" -> "L300", "lukasiewicz" -> "L222")
    val got = expect.map(_._1).toDF("w")
      .select(col("w"), soundex(col("w")).as("sdx")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    expect.foreach { case (w, c) => assert(got(w) === c, s"soundex($w)") }
  }

  test("phonetic blocking: vowel-swap queries resolve inside their block; " +
    "first-letter vowel swaps are the documented recall gap") {
    import spark.implicits._
    // corpus engineered so the vocab is exactly these words (each ≥5×)
    val words = Seq("merge", "stream", "window", "filter", "aubrey")
    val docs = (0 until 5).map(i =>
      (i.toLong, words.mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.phoneticBlocking(docs)
      .select("query", "term", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // every interior vowel swap keeps the soundex block → (query, source
    // term, dist 1) must be present
    val terms = out.map(_._2).toSet
    assert(Set("merge", "stream", "window", "filter").subsetOf(terms), s"$terms")
    assert(out.filter(t => t._2 != "aubrey").forall(_._3 == 1))
    // aubrey's chosen vowel is position-hashed; IF it picked the leading
    // 'a' the code changed and the pair is absent — assert consistency
    // with the hash rather than a fixed outcome
    val h = graft.functions.FnvHash.md5Prefix60(
      org.apache.spark.unsafe.types.UTF8String.fromString("ph:aubrey"))
    val vowelPos = "aubrey".zipWithIndex.filter(t => "aeiou".contains(t._1))
    val chosen = vowelPos((h % vowelPos.size).toInt)._2
    assert(terms.contains("aubrey") === (chosen != 0),
      s"chosen vowel index $chosen")
  }

  test("dup-rate estimator: content-hash sampling keeps groups intact, " +
      "so a uniformly-duplicated corpus estimates its rate EXACTLY") {
    import spark.implicits._
    // 20 distinct texts, each duplicated once: every group has size 2,
    // so ANY content-bucket sample sees removable fraction exactly 1/2
    // — est_bp == exact_bp == 5000 with zero error, regardless of which
    // groups land in the bucket (the group-intact property under test;
    // a doc-id sample would split pairs and understate)
    val docs = (0 until 20).flatMap(i =>
      Seq((2L * i, s"text body number $i"), (2L * i + 1, s"text body number $i")))
      .toDF("doc_id", "text")
    val r = Dedup.dupRateEstimate(docs, buckets = 2).collect()(0)
    assert(r.getLong(3) === 40L && r.getLong(4) === 20L)
    assert(r.getLong(5) === 5000L, "exact rate")
    assert(r.getLong(0) > 0, "bucket-2 sample of 20 groups must be nonempty")
    assert(r.getLong(0) === 2 * r.getLong(1), "groups intact in the sample")
    assert(r.getLong(2) === 5000L && r.getLong(6) === 0L,
      s"estimator must be exact here: $r")
  }
}
