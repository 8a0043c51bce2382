package graft.operators

import graft.core.Memo
import graft.functions.{MinHash, MinHashSignature}
import graft.functions.MinHash.{K, P, R}
import graft.functions.hashes.portableHash60
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, GraftShims, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact (hash
  * group-by), n-gram Jaccard similarity join, MinHash+LSH, SimHash with
  * banded hamming join, and embedding-cosine nearest-neighbor — each both a
  * reusable DataFrame→DataFrame function and an oracle-checked query.
  *
  * Engine-portability: every hash that reaches checked output goes through
  * [[portableHash60]] (md5-prefix → bigint — bit-identical in Spark and the
  * DuckDB oracle), never murmur/xxhash.
  *
  * Scale design (100 TB):
  *  - exact dedup = one hash-partitioned groupBy, no driver state;
  *  - Jaccard join joins on shared shingles (never a cross join) — skewed
  *    ultra-common shingles are the known hazard; MinHash-LSH is the scale
  *    path, bounding candidate pairs by band collisions;
  *  - MinHash: per-doc signatures by a codegen'd kernel in the scan stage
  *    (no shuffle), bands via one groupBy — shuffle volume is O(docs × K),
  *    independent of document length;
  *  - SimHash pairs use the pigeonhole banded join (10 chunks of 6 bits
  *    for hamming ≤ 9): candidates only for pairs sharing a chunk, then the
  *    exact hamming filter — never the O(n²) loop the oracle can afford.
  */
object Dedup {

  /** Tokens split on non-letter runs (reference tokenizer semantics). */
  private def toks(df: DataFrame): DataFrame =
    df.withColumn("w", TextAnalysis.tokens(col("text")))

  /** Distinct word-3-gram shingles per document (docs with <3 tokens have
    * none and drop out, matching the oracle's empty list-comprehension).
    */
  def shingles(docs: DataFrame): DataFrame =
    toks(docs)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("w")) - 3),
          i => concat_ws(" ",
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2),
            element_at(col("w"), i + 3))))).as("s"))

  /** Exact dedup: group by content hash; survivor = min doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** N-gram Jaccard similarity join: pairs sharing >=1 shingle, exact
    * Jaccard over distinct shingle sets, thresholded.
    *
    * Stop-shingle cap: shingles appearing in more than `dfCap` documents
    * are dropped BEFORE the self-join, and Jaccard is computed in the
    * capped shingle space (the standard stop-shingle practice — a shingle
    * in hundreds of documents is boilerplate, not evidence of duplication,
    * and contributes O(df²) rows to the shared-shingle join). This bounds
    * the baseline's worst case at sum(df²) ≤ dfCap · |occurrences| —
    * LINEAR in the corpus for fixed dfCap — instead of detonating
    * quadratically on one hot shingle. The df side is vocabulary-sized:
    * partial-agg groupBy, shuffle-joined on the shingle key (never
    * broadcast — Heaps' law). The test corpus's max df is 25 at sf0.1, so
    * the default cap of 100 drops nothing there (planted pairs trivially
    * unaffected, pinned in DedupSpec); the LSH twin
    * [[ngramJaccardPairsViaLsh]] remains the scale path.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        dfCap: Int = 100): DataFrame =
    cappedPairStats(docs, dfCap)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "inter", "uni", "jaccard")

  /** Capped shared-shingle pair statistics (a_id, b_id, inter, na, nb)
    * over the dfCap-filtered shingle space — the shared kernel of the
    * exact Jaccard and containment joins (one definition of the
    * intersection exchange; the consumers differ only in the similarity
    * functional applied on top).
    */
  private def cappedPairStats(docs: DataFrame, dfCap: Int): DataFrame =
    // memoized (r16): the exact-Jaccard and containment joins consume the
    // IDENTICAL (pair, inter, na, nb) frame — before this each re-ran the
    // shingle pass + df cap + shared-shingle self-join (~3.5 s apiece at
    // sf0.1). Volume is pair-bounded (the capped join's output), never
    // corpus-text-sized, so it fits the store discipline; Bench attributes
    // the build under `_build_dd_pair_stats`.
    Memo(s"pair_stats_$dfCap", docs) {
      val shAll = shingles(docs)
      val kept = shAll.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("s")
      val sh = shAll.join(kept, "s")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.as("a")
      val b = sh.as("b")
      val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
    }

  /** Asymmetric CONTAINMENT join (Broder's containment coefficient):
    * C = |A∩B| / min(|A|, |B|) — the subset-duplicate signal Jaccard
    * structurally misses. A short document quoted whole inside a long
    * one has J ≈ |A|/|B| (arbitrarily low) but C ≈ 1; a curation
    * pipeline needs this to catch embedded copies, boilerplate-wrapped
    * reposts, and excerpt spam. Emits (contained, container) ordered by
    * set size (ties → the smaller doc_id plays contained, a total
    * rule), with the exact intersection and both set sizes alongside.
    *
    * Same capped shared-shingle kernel and scale envelope as
    * [[ngramJaccardPairs]] ([[cappedPairStats]]): df-capped fan-out,
    * vocabulary-sized df side shuffle-joined, never all-pairs.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       dfCap: Int = 100): DataFrame =
    cappedPairStats(docs, dfCap)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id"))
          .as("contained_id"),
        when(col("na") <= col("nb"), col("b_id")).otherwise(col("a_id"))
          .as("container_id"),
        col("inter"),
        least(col("na"), col("nb")).as("n_contained"),
        greatest(col("na"), col("nb")).as("n_container"),
        col("containment"))

  /** Prefix-filtering exact Jaccard join (AllPairs / PPJoin family,
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): the EXACT similarity
    * join whose candidate generation is bounded by rare-shingle
    * collisions instead of a document-frequency cap.
    *
    * Shingles are globally ordered rarest-first (ascending df, ties by
    * shingle text). A doc with n shingles exposes only its first
    * p = n − ⌈τ·n⌉ + 1 shingles in that order as join keys: if
    * J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and by pigeonhole any
    * (|X| − t + 1)-prefix of X must contain an element of an
    * intersection of size ≥ t — so every qualifying pair collides on
    * some shared prefix shingle and candidate completeness holds. The
    * ⌈τ·n⌉ is computed with a 1e-9 downward guard: an fp error can then
    * only LENGTHEN the prefix (more candidates, never a miss), and the
    * exact verify below makes the output correct for any superset of
    * candidates anyway.
    *
    * Scale (100 TB): the join fans out on PREFIX occurrences only —
    * rarest-first ordering puts boilerplate shingles (the df² hazard
    * that forces [[ngramJaccardPairs]]'s dfCap) at the END of every
    * doc's ordering, where the threshold excludes them from prefixes
    * of any doc that isn't mostly boilerplate. Candidates then fan out
    * as sum over PREFIX shingles of df², with prefixes skewed to
    * df≈1 shingles — the standard exact-join scale path next to the
    * approximate LSH one. Verification joins candidate pairs back to
    * the full shingle sets keyed on (doc, shingle): candidate-bounded,
    * never all-pairs. The df side is vocabulary-sized and
    * shuffle-joined (never broadcast — Heaps' law).
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingles(docs)
    // candidate pairs from the shared memoized prefix-collision store
    // (see [[prefixCandCounts]] — the aggregated (pair, overlap) frame is
    // the distinct candidate set with its overlap count alongside)
    val cand = prefixCandCounts(docs, threshold).select("a_id", "b_id")
    val shA = sh.select(col("doc_id").as("a_id"), col("s"))
    val shB = sh.select(col("doc_id").as("b_id"), col("s"))
    val inter = cand.join(shA, "a_id").join(shB, Seq("b_id", "s"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    // |shingle set| per doc == the sh row count per doc (the lists frame's
    // n column, without rebuilding the sorted array frame)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "inter", "uni", "jaccard")
  }

  /** The complete prefix-collision candidate frame (a_id, b_id, overlap)
    * shared by [[prefixJaccardPairs]] (its distinct pair set) and
    * [[prefixTopK]] (its ranking signal) — memoized (r16) because both
    * entries re-derived the identical rarest-first prefix store and paid
    * the same collision self-join (~3.5 s apiece at sf0.1: the sorted
    * collect_list frame + the explode + the join). Pair-bounded volume;
    * Bench attributes the build under `_build_dd_prefix_cand`.
    */
  private def prefixCandCounts(docs: DataFrame, threshold: Double): DataFrame =
    Memo(s"prefix_cand_$threshold", docs) {
      val sh = shingles(docs)
      val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
      val lists = sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("p",
          (col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
            .cast("int"))
      val prefix = lists
        .select(col("doc_id"),
          explode(slice(col("toks"), lit(1), col("p"))).as("t"))
        .select(col("doc_id"), col("t.s").as("s"))
      prefix.as("pa")
        .join(prefix.as("pb"),
          col("pa.s") === col("pb.s") && col("pa.doc_id") < col("pb.doc_id"))
        .groupBy(col("pa.doc_id").as("a_id"), col("pb.doc_id").as("b_id"))
        .agg(count(lit(1)).as("overlap"))
    }

  /** Production-capped prefix top-k candidates (the scale-safe twin of
    * [[prefixJaccardPairs]], r14 verdict item 5): per doc, the k
    * strongest candidates by PREFIX-OVERLAP count (shared rarest-first
    * prefix shingles, the AllPairs candidate signal), each then verified
    * with its exact Jaccard. The exact enumerator emits EVERY qualifying
    * pair — honest but output-bound (the sf1 record measured its
    * warm=cold 379–412 s against a 979× pair blowup, eval-only by
    * framing); a 100 TB curation pipeline instead wants a per-doc
    * bounded candidate list, which is this shape:
    *
    *   - candidate generation is the same complete prefix-collision join
    *     (rarest-first ordering, pigeonhole prefix length
    *     p = n − ⌈τ·n⌉ + 1), but aggregated to (pair, overlap) counts —
    *     map-side combinable, never materialized as verified pairs;
    *   - the per-doc top-k cut (overlap desc, cand_id asc — a total
    *     order) bounds everything downstream: the exact-Jaccard verify
    *     join and the output are both O(docs × k), whatever the corpus'
    *     duplication density does;
    *   - no Jaccard threshold filter on the output: the consumer reads
    *     ranked candidates with verified scores and thresholds
    *     downstream — the usual production contract for a candidate
    *     stage.
    *
    * The oracle replays the prefix definition exactly (df ascending,
    * ties by shingle text), so candidate parity — not just verify
    * parity — is hash-gated.
    */
  def prefixTopK(docs: DataFrame, threshold: Double = 0.5,
                 k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => SqlWindow}
    require(threshold > 0.0 && threshold <= 1.0 && k >= 1)
    val sh = shingles(docs)
    // the same memoized candidate store the exact join reads
    val cand = prefixCandCounts(docs, threshold)
    val sym = cand
      .select(col("a_id").as("doc_id"), col("b_id").as("cand_id"), col("overlap"))
      .unionByName(cand
        .select(col("b_id").as("doc_id"), col("a_id").as("cand_id"), col("overlap")))
    val win = SqlWindow.partitionBy("doc_id")
      .orderBy(col("overlap").desc, col("cand_id"))
    val topk = sym.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= k)
    // exact verify of the <= k-per-doc survivors only
    val inter = topk
      .join(sh, "doc_id")
      .join(sh.select(col("doc_id").as("cand_id"), col("s")), Seq("cand_id", "s"))
      .groupBy("doc_id", "cand_id", "overlap", "rk")
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes, "doc_id")
      .join(sizes.toDF("cand_id", "nc"), "cand_id")
      .select(col("doc_id"), col("cand_id"), col("overlap"), col("rk"),
        col("inter"),
        (col("inter").cast("double") / (col("n") + col("nc") - col("inter")))
          .as("jaccard"))
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández–Stolfo SNM): docs sorted by
    * a normalized block key, each compared only to its `window` nearest
    * successors in the GLOBAL order, candidates verified by portable
    * edit-distance similarity. The classic entity-resolution blocking
    * family — complements the set-similarity paths (shingle/LSH/prefix)
    * with an order-based one that catches short-text near-dups whose
    * shingle sets are too small to join on.
    *
    * The global rank is TWO-LEVEL (the ta_pack prefix-sum discipline):
    * bucket by the key's first character (order-preserving, so
    * (bucket, key, doc_id) order == (key, doc_id) order), per-bucket
    * counts roll into cumulative offsets through the only
    * partition-less window — over ≤ alphabet-many bucket rows — and
    * rank = offset + intra-bucket row_number. Neighbor pairs are then
    * an EQUI join on rank+j (j ≤ window) — no global sort of the
    * corpus, no adjacency stitching, and the verify joins texts for
    * candidate pairs only (O(docs × window) of them).
    */
  /** The SNM GLOBAL sort rank, computed two-level so no partition-less
    * window ever sees more than ~alphabet rows: docs bucket by the first
    * character of the normalized block key (order-preserving), cumulative
    * bucket offsets run through the only global window (over bucket
    * COUNTS), and rank = offset + intra-bucket row_number. Shared by the
    * plain-Levenshtein SNM verify ([[sortedNeighborhoodPairs]]) and the
    * Damerau–Levenshtein variant (`dd_damerau`) — both oracles sort
    * globally with row_number, so equality proves this decomposition.
    */
  private[graft] def snmRanked(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => SqlWindow}
    val keyed = docs.select(col("doc_id"),
      substring(
        concat_ws(" ", TextAnalysis.tokens(lower(col("text")))), 1, 12)
        .as("bk"))
    val b = keyed.withColumn("bucket", substring(col("bk"), 1, 1))
    val counts = b.groupBy("bucket").agg(count(lit(1)).as("c"))
    val woff = SqlWindow.orderBy("bucket")
      .rowsBetween(SqlWindow.unboundedPreceding, -1)
    val offs = counts
      .withColumn("off", coalesce(sum(col("c")).over(woff), lit(0L)))
    val win = SqlWindow.partitionBy("bucket").orderBy(col("bk"), col("doc_id"))
    b.withColumn("lr", row_number().over(win))
      .join(broadcast(offs.select("bucket", "off")), "bucket")
      .select(col("doc_id"), (col("off") + col("lr")).as("rank"))
  }

  /** Transposition-aware edit distance over the SNM neighbor candidates:
    * every rank-adjacent pair (window 2 — the tight neighborhood) scored
    * with BOTH plain Levenshtein and the unrestricted Damerau–Levenshtein
    * ([[graft.functions.EditDist.damerau]], a native codegen'd
    * expression), publishing the distances and the transposition gain
    * lev − dl ≥ 0. The gain is the signal plain edit-distance dedup
    * misses: swapped-word / swapped-char near-duplicates (OCR, human
    * transcription) whose Levenshtein cost is 2 per swap but true edit
    * cost is 1.
    *
    * No banding: the DL transposition recurrence reads arbitrarily far
    * back in the matrix (see EditDist scaladoc), so each pair pays the
    * full O(n·m) DP — which is exactly why it runs over the LINEAR-sized
    * SNM candidate set (window·N pairs), never all pairs.
    */
  /** The SNM candidate derivation shared by every neighbor-verify
    * operator: rank-adjacent pairs within `window`, with both texts
    * attached — (a_id, b_id, rank_dist, ta, tb). ONE definition; the
    * three scoring operators (edit-sim, Damerau, Jaro–Winkler) differ
    * only in the metric they apply to it, and their oracles keep the
    * matching single pair-CTE shape.
    */
  private[graft] def snmCandidatePairs(docs: DataFrame,
                                       window: Int): DataFrame = {
    val ranked = snmRanked(docs)
    val probes = ranked.select(col("rank"), col("doc_id").as("a_id"))
      .withColumn("j", explode(sequence(lit(1), lit(window))))
      .select((col("rank") + col("j")).as("rank"), col("a_id"), col("j"))
      // Re-balance the STREAMED side of the join chain with an explicit
      // numPartitions (REPARTITION_BY_NUM — AQE leaves it alone). The
      // frame upstream carries snmRanked's hashpartitioning(bucket),
      // whose first-character buckets follow the corpus's letter
      // frequencies — one hot initial can hold most of the corpus — and
      // the small rank/text sides all broadcast, so WITHOUT this every
      // downstream join AND the O(n·m) metric the consumers fuse on top
      // run inside the skewed bucket task: the sf1 scaling probe
      // measured the whole verify at ~1 core (90 % of shard-prefixed
      // docs share one bucket), 75 s for work that balances to ~5 s.
      // The shuffled rows are (rank, id, j) — trivially cheap.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("rank"))
    val txt = docs.select(col("doc_id"), col("text"))
    probes
      .join(ranked.select(col("rank"), col("doc_id").as("b_id")), "rank")
      .join(txt.toDF("a_id", "ta"), "a_id")
      .join(txt.toDF("b_id", "tb"), "b_id")
      .select(col("a_id"), col("b_id"), col("j").as("rank_dist"),
        col("ta"), col("tb"))
  }

  def damerauPairs(docs: DataFrame, window: Int = 2): DataFrame = {
    import graft.functions.EditDist.damerauLevenshtein
    snmCandidatePairs(docs, window)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb")).as("lev_dist"),
        damerauLevenshtein(col("ta"), col("tb")).as("dl_dist"))
      .withColumn("transposition_gain", col("lev_dist") - col("dl_dist"))
  }

  /** Jaro–Winkler scoring over the SNM neighbor candidates — the fuzzy
    * string-matching metric record linkage actually uses (census /
    * name-matching heritage): window-2 rank-adjacent pairs scored with
    * the native [[graft.functions.JaroWinkler]] expression next to the
    * normalized edit similarity, publishing both plus their
    * disagreement. JW rewards shared PREFIXES and tolerates
    * transpositions, so jw − edit_sim > 0 flags the
    * same-start/different-tail pairs edit distance over-penalizes —
    * the complementary signal to dd_damerau's transposition gain.
    *
    * Scale: the LINEAR-sized SNM candidate set only (window·N pairs);
    * each probe is O(n·m) on the two texts like every verify here.
    */
  def jaroWinklerPairs(docs: DataFrame, window: Int = 2): DataFrame = {
    import graft.functions.EditDist.jaroWinkler
    snmCandidatePairs(docs, window)
      .select(col("a_id"), col("b_id"),
        jaroWinkler(col("ta"), col("tb")).as("jw_sim"),
        (lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double")
          / greatest(length(col("ta")), length(col("tb"))))
          .as("edit_sim"))
      .withColumn("jw_gain", col("jw_sim") - col("edit_sim"))
  }

  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 4,
                              minSim: Double = 0.8): DataFrame = {
    val cands = snmCandidatePairs(docs, window)
    // two EXACT accelerations of the verify (results provably unchanged):
    //  - length gate: dist >= |len_a - len_b|, so sim >= minSim requires
    //    |Δlen| <= (1-minSim)·maxlen — kills most random-neighbor pairs
    //    before any O(n·m) work;
    //  - banded levenshtein: corpus-wide threshold k = ⌈(1-minSim)·max
    //    text length⌉ (one 1-row collect, the k-bounded convention);
    //    dist > k returns -1, and k >= every pair's own admission bound,
    //    so -1 rows are exactly the rows the sim filter would drop.
    val maxLenRow = docs.agg(max(length(col("text")))).head()
    val k = if (maxLenRow.isNullAt(0)) 0
      else math.ceil((1.0 - minSim) * maxLenRow.getInt(0)).toInt
    // Materialization barrier between the gate and the metric: Catalyst
    // otherwise pushes BOTH levenshtein conjuncts down into the join
    // condition — ORDERED BEFORE the cheap length gate — so every raw
    // candidate pays the DP twice and none pays the O(1) gate first (the
    // sf1 probe measured 200 k × 2 evals where 73 k × ≤2 suffice). The
    // checkpoint pins gate-then-metric staging; the gated frame is
    // window·N-bounded with two ~doc-length strings per row.
    val gated = cands
      .filter(abs(length(col("ta")) - length(col("tb")))
        <= (lit(1.0) - lit(minSim))
          * greatest(length(col("ta")), length(col("tb"))))
      .localCheckpoint(true)
    gated
      .withColumn("dist", levenshtein(col("ta"), col("tb"), k))
      .filter(col("dist") >= 0)
      .withColumn("edit_sim",
        lit(1.0) - col("dist").cast("double")
          / greatest(length(col("ta")), length(col("tb"))))
      .filter(col("edit_sim") >= minSim)
      .select(col("a_id"), col("b_id"),
        col("rank_dist").cast("int").as("rank_dist"), col("edit_sim"))
  }

  /** Blocking-quality evaluation — the standard entity-resolution
    * metrics for a blocking scheme (Christen's pairs completeness =
    * RECALL, and the reduction over all-pairs): how many of the
    * SILVER-STANDARD true near-dup pairs (MinHash-LSH candidates
    * verified by exact shingle Jaccard ≥ 0.5 — the library's own
    * highest-recall verified pair set, the standard way ER evaluations
    * bootstrap a truth set at corpus scale) does the CHEAP
    * sorted-neighborhood window also catch, and at what candidate
    * budget? recall = caught/truth and blocking share =
    * 2·candidates/N(N−1) are each ONE IEEE division of exact integers.
    * This is the scheme-comparison measurement that justifies (or
    * indicts) a blocking window before a production run.
    *
    * Scale: both pair sets are the library's linear-sized machinery
    * (banded LSH + window adjacency) — no quadratic work anywhere; the
    * truth side reuses the memoized signature store.
    */
  def blockingEval(docs: DataFrame, window: Int = 4,
                   truthJaccard: Double = 0.5): DataFrame = {
    val ranked = snmRanked(docs)
    val probes = ranked.select(col("rank"), col("doc_id").as("a_id"))
      .withColumn("j", explode(sequence(lit(1), lit(window))))
      .select((col("rank") + col("j")).as("rank"), col("a_id"))
    val bp = probes
      .join(ranked.select(col("rank"), col("doc_id").as("b_id")), "rank")
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .localCheckpoint(true) // consumed twice: count + the semi join
    val truth = ngramJaccardPairsViaLsh(docs, truthJaccard)
      .select("a_id", "b_id")
      .localCheckpoint(true) // truth-sized; consumed twice
    val caught = truth.join(bp, Seq("a_id", "b_id"), "left_semi")
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(bp.agg(count(lit(1)).as("blocking_pairs")))
      .crossJoin(truth.agg(count(lit(1)).as("truth_pairs")))
      .crossJoin(caught.agg(count(lit(1)).as("caught_pairs")))
      .select(col("n_docs"), col("blocking_pairs"),
        col("truth_pairs"), col("caught_pairs"),
        when(col("truth_pairs") > 0,
          col("caught_pairs").cast("double")
            / col("truth_pairs").cast("double")).as("recall"),
        when(col("n_docs") > 1,
          (col("blocking_pairs").cast(big) * 2).cast("double")
            / (col("n_docs").cast(big) * (col("n_docs") - 1)).cast("double"))
          .as("blocking_share"))
  }

  /** Per-source dedup impact report — the before/after summary a
    * curation run publishes: for each source, how many documents are a
    * member of at least one VERIFIED near-dup pair (the silver-standard
    * set of [[blockingEval]]: MinHash-LSH candidates + exact shingle
    * Jaccard ≥ 0.5), and the share that dedup would touch — one
    * division of exact counts. The per-source view is what a mixing
    * decision reads (a source that is 40% near-dup mass contributes
    * less unique signal than its row count suggests).
    *
    * Scale: pair machinery is the linear banded path (memoized store);
    * the membership explode is 2 rows per pair; the report is
    * sources-sized.
    */
  def dupReport(docs: DataFrame, truthJaccard: Double = 0.5): DataFrame = {
    val members = ngramJaccardPairsViaLsh(docs, truthJaccard)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    docs.select(col("doc_id"), col("source"))
      .join(members.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_members"))
      .select(col("source"), col("n_docs"), col("n_dup_members"),
        (col("n_dup_members").cast("double") / col("n_docs").cast("double"))
          .as("dup_share"))
      .orderBy("source")
  }

  /** MinHash signatures, wide form: one row per doc with columns m1..mK,
    * memoized per corpus. Formulas (and therefore results) are identical
    * to the oracle SQL.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    Memo("sig", docs) {
      rowLocalSignatures(docs) // scan-stage build: no exchange, see below
    }

  /** The original explode + groupBy signature build, kept as the
    * differential reference for [[rowLocalSignatures]] (DedupSpec pins
    * value equality). The row-local form replaced it in the batch path:
    * identical values, one less exchange (a doc's shingles are colocated
    * by construction, so the groupBy's shuffle moved O(docs × K)
    * signature cells for nothing).
    */
  private[graft] def groupBySignatures(docs: DataFrame): DataFrame = {
    val h = shingles(docs)
      .select(col("doc_id"), (portableHash60(col("s")) % P).as("h0"))
    val aggs = (1 to K).map { i =>
      min((col("h0") * MinHash.a(i) + MinHash.b(i)) % P).as(s"m$i")
    }
    h.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Row-local MinHash signatures — value-identical to
    * [[groupBySignatures]] (same shingles, same permutations, same
    * modulus) but computed entirely inside the scan stage by the codegen'd
    * [[graft.functions.MinHashSignature]] kernel: one loop per document
    * over its token array builds each word 3-gram, hashes it and folds all
    * K permutations into running mins (no explode, no groupBy, no
    * interpreted lambda). Two uses: (a) an unbounded STREAM can sign
    * documents at ingest with no state store (a streaming groupBy would
    * need one); (b) zero shuffle — the signature of a row never leaves
    * its partition until a consumer joins on it. Documents with fewer than
    * 3 tokens have no shingle and drop out, as in [[shingles]].
    */
  def rowLocalSignatures(docs: DataFrame): DataFrame =
    // `sig` in its OWN projection, read 32 times by index: CollapseProject
    // keeps a non-cheap alias referenced more than once materialized, so
    // the kernel runs once per document, not once per m_i
    toks(docs).filter(size(col("w")) >= 3)
      .withColumn("sig",
        GraftShims.column(MinHashSignature(GraftShims.expression(col("w")))))
      .select(col("doc_id") +:
        (0 until K).map(i => col("sig").getItem(i).as(s"m${i + 1}")): _*)

  /** (doc_id, band, bkey) rows from [[rowLocalSignatures]] — the
    * stream-safe band projection (stateless: the signature kernel + one
    * explode).
    */
  def rowLocalBands(docs: DataFrame): DataFrame =
    bandsOf(rowLocalSignatures(docs))

  // The MinHash signature table and the LSH pair table are THE shared
  // intermediates of the near-dedup stack — clustering, resolution,
  // edit-distance verify, Jaccard verify and estimation all consume the
  // SAME pairs (and estimation the same signatures) — so both live in the
  // memo store ([[graft.core.Memo]]).

  /** LSH candidate pairs: band the K-wide signature (R rows/band), bucket
    * by md5 of the band slice, emit distinct doc pairs sharing any bucket.
    * Bands are derived from the wide signature row (tiny 8x explode of one
    * row per doc, after aggregation). Materialized ONCE per (session,
    * corpus) in the candidate-pair store; every downstream consumer reads
    * the stored table.
    */
  def minhashLshPairs(docs: DataFrame): DataFrame =
    Memo("pairs", docs) {
      lshPairsFromSignatures(minhashSignatures(docs))
    }

  /** (doc_id, band, bkey) band buckets of a wide signature frame. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until K / R).map { j =>
      struct(
        lit(j).as("band"),
        md5(concat_ws(",",
          (1 to R).map(r => col(s"m${j * R + r}").cast("string")): _*)).as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Band-pair generation over an already-built signature frame — shared
    * so callers that also need the signatures (estimation) or shingles
    * reuse ONE lineage instead of re-tokenizing per consumer (identical
    * subtrees also let Spark's exchange reuse dedupe the shuffle).
    */
  private def lshPairsFromSignatures(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Persist MinHash signatures as a parquet "signature store" — the state
    * a cross-snapshot dedup pipeline carries between corpus versions, so a
    * new batch is deduped against the whole history WITHOUT re-reading or
    * re-hashing the historical corpus.
    *
    * A `_meta.json` sidecar pins the signature parameters (K, rows/band,
    * base hash + permutation family, modulus). Signatures are only
    * comparable when ALL of them match — a K or hash change across
    * incremental runs would otherwise silently mix incomparable
    * signatures and the band join would return garbage candidate pairs
    * with no error. Readers ([[incrementalLshPairs]]) fail loudly on any
    * mismatch, including a MISSING sidecar (a bare parquet dir is not a
    * signature store this library promises to understand).
    */
  private[graft] val StoreMetaFile = "_meta.json"
  private[graft] def storeMetaJson: String =
    s"""{"format":1,"k":$K,"r":$R,"hash":"md5-60/lcg","p":$P}"""

  def writeSignatureStore(docs: DataFrame, path: String): Unit = {
    minhashSignatures(docs).write.mode("overwrite").parquet(path)
    // Hadoop FS, not java.nio: the store path is a cluster URI in
    // production (s3a/hdfs); the sidecar must land next to the data.
    val p = new org.apache.hadoop.fs.Path(path, StoreMetaFile)
    val fs = p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(storeMetaJson.getBytes("UTF-8")) finally out.close()
  }

  /** Open a signature store, failing loudly unless its `_meta.json`
    * matches this build's parameters exactly.
    */
  private[graft] def readSignatureStore(spark: SparkSession,
                                        path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, StoreMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"signature store at $path has no $StoreMetaFile — not written by " +
        s"writeSignatureStore (or predates store versioning); refusing to " +
        s"guess its parameters. Expected: $storeMetaJson")
    val in = fs.open(p)
    val meta =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8")
      finally in.close()
    require(meta == storeMetaJson,
      s"signature store at $path was written with incompatible parameters " +
        s"$meta; this build expects $storeMetaJson. Rebuild the store (or " +
        s"run with the matching library version) — mixing signature " +
        s"families silently corrupts candidate generation.")
    spark.read.parquet(path)
  }

  /** Incremental (cross-snapshot) LSH dedup: candidate pairs that TOUCH
    * the new batch — batch-vs-store and batch-vs-batch, never
    * store-vs-store (those were found when the store was built). The band
    * join is batch-sided: cost scales with the BATCH's collisions, not the
    * corpus (at 100 TB the store is read-only parquet, only its band keys
    * stream through the join). With batch doc_ids disjoint from the store,
    * the result equals the full-corpus [[minhashLshPairs]] restricted to
    * pairs with at least one batch member (proven in DedupSpec).
    */
  def incrementalLshPairs(spark: SparkSession, storePath: String,
                          batch: DataFrame): DataFrame =
    incrementalLshPairsFromSignatures(readSignatureStore(spark, storePath),
      minhashSignatures(batch))

  /** The probe half of [[incrementalLshPairs]], over an already-available
    * signature frame for the historical corpus — the parquet-store read is
    * just one producer of `storedSig` (an in-session memoized frame is
    * another). Factored out so the WRITE of the store (a once-per-snapshot
    * pipeline setup step, gated in DedupSpec's round-trip + drift tests)
    * is not charged to every probe: the recurring cost of cross-snapshot
    * dedup is THIS join, whose volume is batch-sided.
    */
  def incrementalLshPairsFromSignatures(storedSig: DataFrame,
                                        batchSig: DataFrame): DataFrame = {
    val all = bandsOf(storedSig.unionByName(batchSig)).as("a")
    val nb = bandsOf(batchSig).as("b")
    all.join(nb,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
  }

  /** The scale-path near-dedup: exact Jaccard verification restricted to
    * MinHash-LSH candidate pairs (candidate-generate -> verify, the
    * architecture used on real 100 TB corpora). The all-pairs
    * [[ngramJaccardPairs]] join on shared shingles fans out with shingle
    * document frequency; here the expensive exact computation touches only
    * O(candidates) pairs, and shingle sets ride along as arrays only for
    * those pairs. Recall vs the exact join is bounded by the LSH band
    * parameters (measured 100% on jaccard >= 0.8 at the test corpus).
    */
  def ngramJaccardPairsViaLsh(docs: DataFrame, threshold: Double): DataFrame =
    lshVerifiedPairStats(docs)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "inter", "uni", "jaccard")

  /** Exact shingle-Jaccard statistics for EVERY MinHash-LSH candidate
    * pair — the verify layer over the stored pair table, shared by
    * [[ngramJaccardPairsViaLsh]] (threshold filter on top),
    * [[minhashEstimates]] (est-vs-exact comparison), [[blockingEval]]'s
    * silver-standard truth side and [[dupReport]]'s member set. Memoized
    * (r16): the three roster consumers each re-ran the per-doc shingle
    * collect_set pass and the candidate⋈sets verify join — three corpus
    * scans for one frame. Volume is candidate-pair-bounded (five numeric
    * columns per LSH pair), never corpus-text-sized; Bench attributes
    * the build under `_build_dd_pairs_verified`.
    */
  private def lshVerifiedPairStats(docs: DataFrame): DataFrame =
    Memo("pairs_verified", docs) {
      val cand = minhashLshPairs(docs)
      val sets = shingles(docs).groupBy("doc_id")
        .agg(collect_set(col("s")).as("sh"))
      cand
        .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
        .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("uni", size(array_union(col("sha"), col("shb"))))
        .withColumn("jaccard", col("inter").cast("double") / col("uni"))
        .select("a_id", "b_id", "inter", "uni", "jaccard")
    }

  /** 60-bit SimHash over distinct word-3-gram shingles (portable hash;
    * +1/-1 bit votes). Shingles, not unigrams: with a small vocabulary,
    * unigram simhashes collapse (most docs share most words — measured
    * 31 k/125 k doc pairs within hamming 9 on the sf0.01 corpus); 3-gram
    * features restore the entropy (25 pairs <= 9, background >= 18).
    */
  def simhash(docs: DataFrame): DataFrame = {
    // 60 bit-vote aggregates in ONE groupBy over the shingle hashes — the
    // first cut cross-joined a 60-row bit table (60x shuffle volume, 14 s
    // at sf0.1 vs ~1 s for this shape). Same results.
    val h = shingles(docs).select(col("doc_id"), portableHash60(col("s")).as("h"))
    val votes = (0 until 60).map(b =>
      sum(expr(s"CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$b"))
    val assemble = (0 until 60).map(b =>
      expr(s"CASE WHEN v$b > 0 THEN shiftleft(CAST(1 AS BIGINT), $b) ELSE CAST(0 AS BIGINT) END"))
      .reduce(_ + _)
    h.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assemble.as("simhash"))
  }

  /** SimHash near-dup pairs, hamming <= maxHamming (default 9), found via
    * the pigeonhole banded join: the 60 bits are split into maxHamming + 1
    * disjoint chunks (widths as even as 60 allows — 10×6 for the default
    * h=9) — a pair within hamming h differs in at most h chunks, so it
    * must agree on >=1 of the h+1 — then exact hamming verification.
    * Larger h → more, narrower chunks → more candidates (the usual
    * recall/cost dial); h=0 degenerates to one 60-bit chunk, i.e. exact
    * simhash equality.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 9): DataFrame =
    hammingPairs60(simhash(docs), "simhash", maxHamming)

  /** Generic pigeonhole banded Hamming join over ANY (doc_id, <hashCol>)
    * frame of 60-bit hashes — the machinery behind [[simhashPairs]] and
    * [[graft.operators.Multimodal.phashPairs]] (perceptual image hashes):
    * any fingerprint family that measures similarity as Hamming distance
    * plugs in. Pairs within `maxHamming` must agree on >= 1 of the
    * maxHamming + 1 disjoint bit chunks; candidates are verified exactly.
    */
  /** (doc_id, h60, c, cv) chunk buckets of a 60-bit hash frame: the
    * maxHamming + 1 disjoint bit chunks, generated ROW-LOCALLY (explode
    * of an on-row struct array, no join) — so the same projection signs
    * an unbounded STREAM at ingest with no state ([[graft.streaming
    * .EventStream]]'s st_phash) and, in batch, band generation never
    * leaves the scan stage.
    */
  private[graft] def hammingBands60(sig: DataFrame, hashCol: String,
                                    maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60), got $maxHamming")
    val nChunks = maxHamming + 1
    val base = 60 / nChunks
    val extra = 60 % nChunks
    val widths = Seq.tabulate(nChunks)(c => if (c < extra) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).init
    val h = col(hashCol)
    val chunkCols = shifts.zip(widths).zipWithIndex.map { case ((s, wd), c) =>
      struct(lit(c).as("c"),
        shiftright(h, s).bitwiseAND(lit((1L << wd) - 1)).as("cv"))
    }
    sig.select(col("doc_id"), h.as("h60"),
        explode(array(chunkCols: _*)).as("bb"))
      .select(col("doc_id"), col("h60"),
        col("bb.c").as("c"), col("bb.cv").as("cv"))
  }

  /** Hash-bucket-sampled duplicate-rate estimator — the "how much will
    * dedup save" probe a pipeline runs BEFORE committing to a full-corpus
    * dedup pass. The estimator's correctness hinges on sampling by
    * CONTENT hash, not by document id: a uniform doc sample would break
    * duplicate groups apart and systematically UNDER-estimate the dup
    * rate (a pair survives a p-sample with probability p², not p);
    * keying the sample on hash(text) % buckets keeps every group intact
    * or absent, so the removable fraction in the sample is an unbiased
    * estimate of the corpus's. Published next to the exact full-corpus
    * rate so the panel VALIDATES its own estimator (est_err_bp) — at
    * 100 TB only the sample side runs (1/buckets of the corpus through
    * one exchange), which is the point.
    */
  /** The ONE sample-bucket count shared by [[dupRateEstimate]]'s default
    * and the dd_dup_rate oracle SQL (interpolated there) — a non-default
    * bucket count on the registration side can't silently diverge from a
    * hardcoded oracle literal.
    */
  val DupRateBuckets = 16

  /** Sink-side finalize of the STREAMING dup-rate monitor (st_dup_rate):
    * the stream folds per-content-hash counts over the SAMPLE bucket only
    * (state is O(distinct sampled texts) = 1/buckets of the corpus — the
    * deployable shape; the full-corpus exact side of [[dupRateEstimate]]
    * is the batch VALIDATION of this estimator, not something a stream
    * should carry), and this finalize reads the folded (h, c) table:
    * sample_n = Σc, sample_distinct = row count, est_bp the same integer
    * division as the batch panel. Content identity is md5(text) — the
    * dd_exact convention.
    */
  def dupRateFromSampleFreq(freq: DataFrame): DataFrame =
    freq
      .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("sample_n"),
        count(lit(1)).as("sample_distinct"))
      .select(col("sample_n"), col("sample_distinct"),
        when(col("sample_n") > 0,
          expr("(10000 * (sample_n - sample_distinct)) div sample_n"))
          .as("est_bp"))

  def dupRateEstimate(docs: DataFrame, buckets: Int = DupRateBuckets): DataFrame = {
    val h = portableHash60(col("text"))
    val sample = docs.filter(h % buckets === 0)
      .agg(count(lit(1)).as("sample_n"),
        countDistinct(col("text")).as("sample_distinct"))
    val full = docs.agg(count(lit(1)).as("full_n"),
      countDistinct(col("text")).as("full_distinct"))
    sample.crossJoin(full).select(
      col("sample_n"), col("sample_distinct"),
      when(col("sample_n") > 0,
        expr("(10000 * (sample_n - sample_distinct)) div sample_n"))
        .as("est_bp"),
      col("full_n"), col("full_distinct"),
      when(col("full_n") > 0,
        expr("(10000 * (full_n - full_distinct)) div full_n"))
        .as("exact_bp"),
      when(col("sample_n") > 0 && col("full_n") > 0,
        expr("(10000 * (sample_n - sample_distinct)) div sample_n")
          - expr("(10000 * (full_n - full_distinct)) div full_n"))
        .as("est_err_bp"))
  }

  def hammingPairs60(sig: DataFrame, hashCol: String,
                     maxHamming: Int): DataFrame = {
    val banded = hammingBands60(sig, hashCol, maxHamming)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.h60").bitwiseXOR(col("b.h60"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** MinHash Jaccard estimation over the LSH candidate pairs: the fraction
    * of agreeing signature components estimates the true Jaccard
    * (E[agree_i] = J by the MinHash property), shown side by side with the
    * exact value. This is what lets a 100 TB dedup SKIP the exact verify
    * for pairs whose estimate clears the threshold with margin. Note the
    * conditioning: candidates collided in >=1 band (4 agreeing components
    * guaranteed), so estimates for LOW-similarity candidates are
    * upper-biased (floor 4/K) — fine for the skip-verify use, where only
    * the high end matters. Both columns are exact integer ratios, so the
    * oracle matches bit-for-bit.
    */
  def minhashEstimates(docs: DataFrame): DataFrame = {
    // the stored signature table feeds both estimate sides; the stored
    // VERIFIED pair table supplies the exact jaccard (inter/uni over the
    // per-pair shingle sets — the identical IEEE division this method
    // computed inline before the r16 shared store)
    val sig = minhashSignatures(docs)
    def side(p: String) =
      sig.toDF(sig.columns.toIndexedSeq
        .map(c => if (c == "doc_id") s"${p}_id" else s"${p}_$c"): _*)
    val agree = (1 to K).map(i =>
      when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0)).reduce(_ + _)
    lshVerifiedPairStats(docs)
      .join(side("a"), "a_id").join(side("b"), "b_id")
      .withColumn("est_jaccard", agree.cast("double") / K)
      .select("a_id", "b_id", "est_jaccard", "jaccard")
  }

  /** Release the block storage behind an eager localCheckpoint snapshot —
    * label propagation supersedes one snapshot per iteration, and waiting
    * for the ContextCleaner would pin every generation simultaneously. A
    * superseded snapshot is never read again: no lineage WARN is due.
    */
  private def unpersistSnapshot(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        GraftShims.releaseBlocks(l.rdd)
    }

  /** Duplicate-cluster resolution: connected components over the MinHash-LSH
    * candidate pairs, by iterative min-label propagation — the step a real
    * dedup pipeline runs AFTER pair generation, because near-duplication is
    * transitive in practice (A~B, B~C ⇒ one cluster) and "keep one per
    * PAIR" double-drops chained duplicates. Every document gets a
    * cluster_id (the minimum doc_id reachable through dup edges; singletons
    * are their own cluster) and is_rep marks the one kept representative.
    *
    * Scale shape: the loop carries labels for edge-incident nodes ONLY
    * (O(2·edges) rows, a small fraction of a real corpus — singletons
    * can't change label and rejoin via one left join at the end), each
    * iteration is one key-partitioned join + groupBy on the edge list
    * (O(edges) shuffle, never materializing components), and labels are
    * locally checkpointed per iteration so the plan doesn't grow with
    * iteration count — the standard Spark formulation of
    * label-propagation connected components. Converges in O(component
    * diameter) iterations; dup clusters are shallow (diameter ≤ 3–4 even
    * on web corpora), and the loop stops as soon as an iteration changes
    * nothing.
    */
  def duplicateClusters(docs: DataFrame, maxIters: Int = 20): DataFrame = {
    val pairs = minhashLshPairs(docs)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    // the edge checkpoint is released on every exit; on success the
    // returned frame reads the final label snapshot, so its blocks stay
    // pinned until the caller drops the frame (ContextCleaner)
    val labels = try propagateLabels(edges, maxIters)
      finally unpersistSnapshot(edges)
    // Singletons rejoin (left join, label := own id) once, at the end.
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_rep", (col("doc_id") === col("cluster_id")).cast("int"))
  }

  /** Min-label propagation over `edges` (src, dst), which lists every
    * edge in both directions: (doc_id, cluster_id) for each node incident
    * to an edge, cluster_id being the minimum doc_id of its connected
    * component. Throws when `maxIters` iterations do not converge.
    *
    * The loop iterates ONLY over nodes incident to an edge — a singleton's
    * label can never change, so carrying the whole corpus through every
    * iteration multiplies each iteration's join/checkpoint by corpus size
    * for no information; on a real corpus the duplicate-involved subset is
    * a small fraction. Each iteration's changed count is observed by the
    * checkpoint action that materializes its labels, so convergence costs
    * no job of its own.
    */
  private[graft] def propagateLabels(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // seed labels at min(self, direct neighbors) — the first propagation
    // step fused into initialization: pair-shaped clusters (the common
    // case) start CONVERGED, so the loop below runs once to verify and
    // stops, instead of one iteration to propagate + one to verify
    var snapshot = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("cluster_id"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    // a non-convergence throw releases the last label snapshot too
    try {
      while (changed > 0 && it < maxIters) {
        val nbrMin = edges
          .join(snapshot.withColumnRenamed("doc_id", "dst"), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        // the observation sits on top of the checkpointed plan, in the
        // action's result stage: a retried map task cannot count twice
        val chg = Observation()
        val updated = snapshot.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id"),
            (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id"))
              .as("chg"))
          .observe(chg, count_if(col("chg")).as("n"))
          .drop("chg")
          .localCheckpoint(true)
        // an empty input can leave the plan with no metrics to report
        changed = chg.get.get("n") match {
          case Some(n: Long) => n
          case _ => 0L
        }
        // the new snapshot is materialized; the previous generation is dead
        unpersistSnapshot(snapshot)
        snapshot = updated
        it += 1
      }
      // never hand back partially-propagated labels: a component with
      // diameter > maxIters would silently split into several clusters
      // (multiple is_rep rows for one true duplicate group)
      require(changed == 0,
        s"duplicate-cluster label propagation did not converge in $maxIters " +
          "iterations — raise maxIters (components as deep as the iteration " +
          "count exist in the pair graph)")
    } finally {
      if (changed != 0) unpersistSnapshot(snapshot)
    }
    snapshot
  }

  /** Duplicate-cluster resolution POLICY — the decision step after
    * [[duplicateClusters]]: which member of each near-duplicate cluster
    * survives into the training set. `is_rep` in the cluster output is the
    * graph-canonical label (minimum doc_id); a real pipeline keeps the
    * highest-QUALITY member instead — here the longest document
    * (`n_chars`), ties broken toward the smallest doc_id so the choice is
    * total and deterministic.
    *
    * Scale shape: one join of the cluster labels with the doc metadata
    * (key-partitioned on doc_id) and one window PARTITIONED BY cluster_id
    * — dup clusters are small (bounded by the near-dup neighborhood, not
    * the corpus), so every partition of the window is tiny; there is no
    * global-order window anywhere.
    */
  def resolveClusters(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy("cluster_id")
    val pref = byCluster.orderBy(col("n_chars").desc, col("doc_id").asc)
    duplicateClusters(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        count(lit(1)).over(byCluster).as("n_members"),
        (row_number().over(pref) === 1).cast("int").as("keep"))
  }

  /** Edit-distance verification over the LSH candidate pairs: exact
    * Levenshtein distance and its length-normalized similarity for each
    * candidate — the character-level complement to token-level Jaccard
    * (catches small in-word edits that 3-gram shingles overweight).
    * Levenshtein is O(len²) per pair, which is exactly why it only ever
    * runs on the LSH-bounded candidate set, never all pairs.
    */
  def editDistancePairs(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    // the O(len²) levenshtein is computed ONCE per pair in its own
    // projection and edit_sim derived from the column — a single select
    // would evaluate it twice wherever subexpression elimination is
    // unavailable (interpreted fallback on long texts)
    minhashLshPairs(docs)
      .join(t.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).as("max_len"))
      .select(col("a_id"), col("b_id"), col("edit_dist"),
        (lit(1) - col("edit_dist").cast("double") / col("max_len"))
          .as("edit_sim"))
  }

  /** Exact substring-level dedup — the Lee-et-al ("Deduplicating Training
    * Data Makes Language Models Better") family that doc-level exact/near
    * dedup misses: REPEATED SPANS inside otherwise-distinct documents.
    * Every `width`-token span (stride 1) is a candidate unit; spans whose
    * text occurs more than once — within one document or across documents
    * — are reported with occurrence/document counts and the minimum doc_id
    * holder, i.e. the occurrence a dedup pass keeps while excising the
    * rest.
    *
    * Grouping is BY THE SPAN TEXT, so the result is exact (a hash
    * collision cannot fabricate a repeat); the 64-bit Rabin–Karp rolling
    * hash [[graft.functions.hashes.poly31Hash]] of each span rides along
    * as the compact key a 100 TB deployment shuffles INSTEAD of the text
    * (hash-group then verify survivors — the same candidate/verify split
    * as MinHash-LSH; the windowed form of the same polynomial gives each
    * span hash in O(1) from its predecessor). Shuffle is O(corpus tokens)
    * rows with map-side partial aggregation — never an all-pairs join.
    */
  def substringDedup(docs: DataFrame, width: Int = 6): DataFrame = {
    import graft.functions.hashes.poly31Hash
    val spans = toks(docs).filter(size(col("w")) >= width)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("w")) - (width - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(width))))).as("span"))
    spans.groupBy("span")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") >= 2)
      .select(poly31Hash(col("span")).as("span_hash"), col("span"),
        col("n_docs"), col("n_occ"), col("first_doc"))
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm) — the document-fingerprinting step overlap-detection
    * pipelines run instead of keeping EVERY span hash: slide a window of
    * `window` consecutive `width`-token span hashes and keep each window's
    * minimum (rightmost on ties). The guarantee: any shared run of
    * width+window-1 tokens between two documents shares at least one
    * SELECTED fingerprint, while storage drops ~window-fold vs
    * [[substringDedup]]'s every-span set.
    *
    * Determinism: span hashes are the [[graft.functions.hashes.poly31Hash]]
    * polynomial (engine-portable by construction) and the rightmost-min
    * tie rule is total, so the selected set is bit-identical in any
    * engine. Documents shorter than width+window-1 tokens have no full
    * window and drop out (mirrored in the oracle).
    *
    * Scale shape: pure scan stage — per-document array math inside one
    * codegen pass, zero shuffle, output O(corpus tokens / window). The
    * selected (doc_id, fp) set is what a deployment groupBys or joins for
    * cross-doc overlap, at 1/window the volume of the all-spans shuffle.
    */
  def winnowFingerprints(docs: DataFrame, width: Int = 4,
                         window: Int = 4): DataFrame = {
    import graft.functions.hashes.poly31Hash
    val spanHashes = toks(docs)
      .filter(size(col("w")) >= width + window - 1)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("w")) - (width - 1)),
          i => poly31Hash(concat_ws(" ", slice(col("w"), i, lit(width)))))
          .as("hs"))
    spanHashes
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("hs")) - (window - 1)),
          i => {
            val mn = array_min(slice(col("hs"), i, lit(window)))
            val pos = array_max(filter(sequence(i, i + lit(window - 1)),
              j => element_at(col("hs"), j) === mn))
            struct(pos.as("pos"), mn.as("fp"))
          }))).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** Benchmark-contamination detection — the check every serious training
    * pipeline runs before training: flag corpus documents whose word-3-gram
    * shingles overlap a held-out evaluation set (a contaminated doc would
    * leak benchmark answers into the model). For each corpus document:
    * its distinct-shingle count, how many of those shingles appear
    * ANYWHERE in the eval set, the overlap fraction, and the verdict at
    * `minFrac`.
    *
    * Scale shape (the asymmetric variant of the shingle join): the eval
    * set is SMALL by definition (benchmarks are thousands of documents,
    * the corpus is billions), so its distinct shingles are an explicit
    * BROADCAST — the corpus side streams through the scan stage, never
    * shuffles for the join, and the only exchange is the per-doc groupBy
    * (map-side combined to O(corpus docs) rows, since each document's
    * shingles are colocated by construction). Documents with < 3 tokens
    * have no shingles and no verdict (consistent with [[shingles]]).
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame,
                    minFrac: Double = 0.5): DataFrame = {
    val ev = broadcast(shingles(evalSet).select(col("s")).distinct()
      .withColumn("hit", lit(1L)))
    shingles(corpus).join(ev, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlapping_ngrams"))
      .withColumn("contam_frac",
        col("n_overlapping_ngrams").cast("double") / col("n_grams"))
      .withColumn("contaminated", (col("contam_frac") >= minFrac).cast("int"))
  }

  /** Distinct word-n-grams per document as an ARRAY column (no explode):
    * the gram set stays a scan-stage value, so consumers can take its
    * cardinality for free and explode only when they must join.
    */
  private def gramSets(docs: DataFrame, n: Int): DataFrame =
    toks(docs).filter(size(col("w")) >= n)
      // the when() guard repeats the filter condition INSIDE the expression:
      // InferFiltersFromGenerate copies a `size(grams) > 0` predicate from a
      // downstream explode into the scan's DataFilters, where it runs on
      // UNFILTERED rows — an unguarded sequence(0, size-n) is descending for
      // short docs and feeds slice a zero start (runtime error). A total
      // expression is speculation-safe; the optimizer prunes nothing here.
      .select(col("doc_id"),
        when(size(col("w")) >= n,
          array_distinct(transform(
            sequence(lit(0), size(col("w")) - n),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(n))))))
          .otherwise(lit(Array.empty[String])).as("g"))

  /** Bloom-prefiltered contamination — the 100 TB shape of
    * [[contamination]] when the eval set outgrows an exact broadcast hash
    * set. GPT-3-style long n-grams (default 13) are checked in three
    * stages:
    *
    *  1. a driver-built Bloom filter over the distinct eval grams (bits
    *     scale with eval-gram count × ~10 at fpp=0.01 — megabytes where
    *     the exact string set would be gigabytes) is broadcast and applied
    *     at the SCAN STAGE: all but (true hits + fpp) of the corpus grams
    *     die before any exchange;
    *  2. the few survivors exact-verify against the eval gram table with a
    *     semi join (candidate-sized, not corpus-sized), killing the false
    *     positives — the operator's OUTPUT is exact, the Bloom is only a
    *     traffic valve;
    *  3. per-doc totals come from the un-exploded gram-set cardinality
    *     (scan-only), so the left join onto totals is the lone full-corpus
    *     exchange, at one row per document.
    *
    * The might-contain probe is a broadcast-closure UDF by necessity:
    * Spark exposes no public might-contain function over sketches (the
    * Catalyst BloomFilterMightContain expression is reserved for its
    * internal runtime row-filter rewrite).
    */
  def contaminationBloom(corpus: DataFrame, evalSet: DataFrame,
                         n: Int = 13, minFrac: Double = 0.3,
                         fpp: Double = 0.01): DataFrame = {
    val ev = gramSets(evalSet, n).select(explode(col("g")).as("s")).distinct()
    val bloom = ev.stat.bloomFilter("s", math.max(ev.count(), 1000L), fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val corpusGrams = gramSets(corpus, n)
    // codegen'd probe (functions.hashes.BloomMightContain), not a scalar
    // UDF: the valve stays inside the scan stage's generated loop
    val hits = corpusGrams.select(col("doc_id"), explode(col("g")).as("s"))
      .filter(graft.functions.hashes.bloomMightContain(bloomBytes, col("s")))
      .join(ev, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlapping_ngrams"))
    corpusGrams.select(col("doc_id"), size(col("g")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_overlapping_ngrams", coalesce(col("n_overlapping_ngrams"), lit(0L)))
      .withColumn("contam_frac",
        col("n_overlapping_ngrams").cast("double") / col("n_grams"))
      .withColumn("contaminated", (col("contam_frac") >= minFrac).cast("int"))
  }

  /** Cross-corpus paragraph dedup (the C4 preprocessing rule): documents
    * chunk into fixed-size non-overlapping token "paragraphs" (this
    * corpus has no layout separators, so a fixed token window stands in
    * for the paragraph boundary); one occurrence of each distinct chunk
    * survives corpus-wide — the lexicographically smallest
    * (doc_id, chunk_idx) — and every other copy is removed, including
    * copies within the same document. Emits per document the chunk count,
    * surviving-chunk count, and the md5 of the text rebuilt from the
    * survivors in order (the cleaned document a writer stage would emit).
    *
    * Shape: chunking is scan-stage; the dedup decision is ONE exchange
    * hash-partitioned by chunk content (row_number within chunk), then
    * ONE per-doc exchange for the rebuild — both map-side-combinable
    * volumes of O(chunks) = O(tokens / chunkTokens). An ultra-common
    * chunk (boilerplate) hot-spots its partition exactly like any
    * groupBy on content; the df-cap/salting remedies of the shingle
    * stack apply unchanged if a corpus needs them.
    */
  def paragraphDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    // when() guard for the same speculative-evaluation reason as gramSets
    val chunks = toks(docs).filter(size(col("w")) >= chunkTokens)
      .select(col("doc_id"), posexplode(
        when(size(col("w")) >= chunkTokens, transform(
          sequence(lit(0), expr(s"size(w) div $chunkTokens").cast("int") - 1),
          i => concat_ws(" ", slice(col("w"), i * chunkTokens + 1, lit(chunkTokens)))))
          .otherwise(lit(Array.empty[String]))))
      .toDF("doc_id", "chunk_idx", "chunk")
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    chunks
      .withColumn("kept", (row_number().over(keeper) === 1).cast("int"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(when(col("kept") === 1,
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")))).as("cleaned_md5"))
  }

  /** Hyperplane sign for (plane, dim) — md5-prefix parity of "sd:p,d"
    * (the [[portableHash60]] construction), computed driver-side so the
    * planes are constant vectors; the oracle derives the same ±1 matrix
    * from the same md5 parity in SQL.
    */
  private def semPlaneSign(p: Int, d: Int): Double =
    graft.functions.hashes.md5ParitySign(s"sd:$p,$d")

  /** SemDeDup-style semantic dedup over the embedding column — cluster
    * vectors into buckets, then compare pairs WITHIN a bucket only (the
    * "cluster then prune within cluster" architecture; the clusters here
    * are sign-random-projection half-space cells rather than k-means
    * cells, which makes the whole operator EXACTLY reproducible). Every
    * vector reports its bucket, the bucket population, its most-similar
    * bucket peer, the signed squared cosine of that pair, and the
    * near-duplicate verdict at cos ≥ 0.9 (scos2 ≥ 0.81).
    *
    * Unlike [[Similarity.lshTopK]] (double-precision projections, ranking
    * by a floating cosine — honest but only rows-checkable), every number
    * here is EXACT integer arithmetic, so the full operator hash-matches
    * a DuckDB replay:
    *  - vectors are int8-quantized first ([[Embeddings.quantizeInt8]]'s
    *    half-up formula) — scale factors cancel in cosine, so quantized
    *    cosine needs no dequantization;
    *  - the projection planes are ±1 entries (md5-parity), so bucket bits
    *    are signs of exact integer dot products — NO floating boundary
    *    flip can move a vector between buckets (the hazard documented on
    *    [[Similarity.srpBuckets]]);
    *  - ranking uses sign(dot)·dot² / (‖a‖²·‖b‖²): numerator and
    *    denominator are exact int64 (dot² ≤ 2^40·dim², norms ≤ 2^20·dim),
    *    so the score is ONE IEEE division — monotone in cosine (sign·cos²)
    *    and bit-identical in every engine.
    *
    * Scale shape: quantization + bucketing are scan-stage (codegen'd
    * [[graft.functions.DotProduct]] against constant planes); the only
    * shuffle is the bucket-keyed self-join, quadratic in BUCKET population
    * — `planes` is the dial that keeps cells bounded (each plane halves
    * the expected cell; a 100 TB deployment sizes 2^planes to the corpus
    * the same way SemDeDup sizes its k-means k). Zero vectors have no
    * cosine and are excluded up front, mirrored in the oracle.
    */
  def semanticDedup(emb: DataFrame, planes: Int = 6,
                    dupScos2: Double = 0.81): DataFrame = {
    import graft.functions.vector.vecDot
    import org.apache.spark.sql.expressions.Window
    // dimension inferred from the data (1-value agg), never hardcoded;
    // an empty table degrades to dim=1 planes and an empty result
    val dim = Embeddings.dimOf(emb)
    val qv = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .filter(col("m") > 0.0)
      // int8 codes as exact small integers in double (shared half-up
      // formula), so the codegen'd dot products are EXACT integer math
      .select(col("vec_id"),
        transform(col("v"), x => Embeddings.int8Code(x, col("m"))).as("q"))
    val bucket = (0 until planes).map { p =>
      val plane = typedLit((0 until dim).map(d => semPlaneSign(p, d)))
      when(vecDot(col("q"), plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // quantization + 6-plane bucketing feed FOUR consumers (sizes, both
    // self-join sides, the final projection): materialize once — the
    // checkpoint blocks are ContextCleaner-reclaimed when the returned
    // frame is dropped (raw localCheckpoint RDDs, not CacheManager pins)
    val bq = qv.select(col("vec_id"), col("q"), bucket.as("bucket"))
      .localCheckpoint(true)
    val sizes = bq.groupBy("bucket").agg(count(lit(1)).as("n_bucket"))
    val dot = vecDot(col("q"), col("qb")).cast("long")
    val pairs = bq.join(
        bq.select(col("vec_id").as("nn_id"), col("q").as("qb"), col("bucket")),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("dot", dot)
      .withColumn("na", vecDot(col("q"), col("q")).cast("long"))
      .withColumn("nb", vecDot(col("qb"), col("qb")).cast("long"))
      .withColumn("scos2", Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("scos2").desc, col("nn_id").asc)
    val top1 = pairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nn_id"), col("scos2"))
    bq.select(col("vec_id"), col("bucket"))
      .join(sizes, "bucket")
      .join(top1, Seq("vec_id"), "left") // singleton buckets: no peer
      .select(col("vec_id"), col("bucket"), col("n_bucket"),
        col("nn_id"), col("scos2"),
        coalesce((col("scos2") >= dupScos2).cast("int"), lit(0))
          .as("is_semdup"))
  }

  /** Embedding-cosine top-1 neighbor for a query subset — the exact
    * (brute-force) form; [[Similarity]] holds top-k and the LSH-bucketed
    * scale path.
    */
  def cosineTop1(emb: DataFrame, nQueries: Int): DataFrame =
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < nQueries).limit(nQueries), emb, k = 1)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn_id"))

  /** Content-defined chunking (the restic/borgbackup/LBFS dedup
    * primitive — Muthitacharoen SOSP'01): chunk boundaries fall where a
    * W=8-char Rabin–Karp window hash ≡ 0 (mod 64), so an insertion or
    * deletion only reshapes the chunks AROUND the edit — every chunk
    * whose content window is untouched keeps its identity, which is
    * exactly what fixed-size blocks and fixed shingles cannot do. The
    * rolling fold is the [[graft.functions.hashes.poly31Hash]]
    * base/modulus ((a·31 + cp) mod 1e9+7) advanced in O(1) per char;
    * chunk identities are [[portableHash60]] of the chunk text. No
    * min/max chunk-size clamps: a clamp makes boundaries depend on
    * PRIOR boundaries (state), which would break the stateless SQL
    * replay — documented trade: pathological inputs can emit 1-char
    * chunks.
    *
    * Published per doc: chunk count, distinct chunks, an order-free
    * chunk-identity XOR, and how many of the doc's distinct chunks
    * appear in ANY other doc (the dedup savings estimate). The chunk-df
    * join is hash-keyed and chunk-cardinality-bounded — never all-pairs.
    *
    * Scale: chunking is scan-stage mapPartitions (one O(n) pass per
    * doc, zero shuffle); the summary is two partial-agg exchanges over
    * chunk rows (O(chunks), ~n/64 per doc).
    */
  def cdcChunkSummary(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.FnvHash
    import org.apache.spark.unsafe.types.UTF8String
    val W = 8
    val P = 1000000007L
    val chunks = docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val n = text.length
        val out = List.newBuilder[(Long, Long)]
        def emit(s: Int, e: Int): Unit = out += ((id,
          FnvHash.md5Prefix60(UTF8String.fromString(text.substring(s, e)))))
        var start = 0
        if (n >= W) {
          var pow = 1L // 31^(W-1) mod P
          var t = 0
          while (t < W - 1) { pow = pow * 31 % P; t += 1 }
          var h = 0L
          var j = 0
          while (j < W) { h = (h * 31 + text.charAt(j)) % P; j += 1 }
          var end = W - 1 // window covers [end-W+1, end]
          var cont = true
          while (cont) {
            if (h % 64 == 0) { emit(start, end + 1); start = end + 1 }
            if (end + 1 < n) {
              val cOut = text.charAt(end - W + 1).toLong
              val tmp = (h - cOut * pow % P + P) % P
              h = (tmp * 31 + text.charAt(end + 1)) % P
              end += 1
            } else cont = false
          }
        }
        if (start < n) emit(start, n)
        out.result()
      }).toDF("doc_id", "h60")
      .localCheckpoint(true) // three consumers below share one chunking pass
    val df = chunks.groupBy("h60")
      .agg(countDistinct(col("doc_id")).as("docs"))
    val per = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h60")).as("distinct_chunks"),
        expr("bit_xor(h60)").as("chunk_xor"))
    val shared = chunks.join(df.filter(col("docs") >= 2), "h60")
      .groupBy("doc_id")
      .agg(countDistinct(col("h60")).as("shared_chunks"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(per, Seq("doc_id"), "left_outer")
      .join(shared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("distinct_chunks"), lit(0L)).as("distinct_chunks"),
        coalesce(col("chunk_xor"), lit(0L)).as("chunk_xor"),
        coalesce(col("shared_chunks"), lit(0L)).as("shared_chunks"))
      .orderBy("doc_id")
  }

  /** Raw per-term corpus counts for the phonetic resolver — lowercase
    * ASCII-alpha terms of length 4–12 (the engine-portability bounds the
    * SymSpell resolver documents: char-vs-codepoint semantics identical
    * across engines). Kept separate from [[phoneticFromVocab]] so the
    * streaming twin can FOLD exactly this aggregate in-stream (term counts
    * are the only corpus-sized state) and finalize sink-side.
    */
  private[graft] def phoneticVocabCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .select(lower(col("t")).as("term"))
      .filter(col("term").rlike("^[a-z]+$") &&
        length(col("term")).between(4, 12))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Soundex phonetic blocking for entity resolution — the classic
    * blocking-key family the SNM / LSH / prefix-filter entries don't
    * cover: candidate pairs are generated ONLY inside a phonetic code
    * block (Soundex collapses spelling variation that preserves the
    * consonant skeleton), then verified by exact edit distance — the
    * name-matching shape of record linkage since Fellegi–Sunter.
    *
    * The query side is a corrupted log derived in-engine: every frequent
    * vocab term with one hash-chosen VOWEL substituted by the next vowel
    * in the aeiou cycle. Vowels all map to the same (discarded) Soundex
    * class, so the corruption is code-invariant — EXCEPT when the chosen
    * vowel is the first letter, where the code keeps the literal letter
    * and the block misses: a real, visible Soundex recall gap, which is
    * exactly the property a blocking-quality eval should surface. The
    * in-engine derivation means the DuckDB oracle rebuilds the identical
    * log in SQL — including a translate-chain reimplementation of classic
    * Soundex (H/W-bridged run collapse, vowel-broken runs, first-letter
    * retention) whose golden vectors DedupSpec pins against Spark's
    * builtin `soundex`.
    *
    * Scale: blocking is ONE equi-shuffle on the 4-char code; within-block
    * fan-out is capped (codes with > 10k member terms are dropped as
    * non-discriminative — the LSH df-cap discipline), so verification is
    * O(cap²) per block, never corpus². The vocabulary sides are open
    * (shuffle-joined, never broadcast).
    */
  def phoneticBlocking(docs: DataFrame): DataFrame =
    phoneticFromVocab(phoneticVocabCounts(docs))

  /** The blocking + verify finalize over a (term, cnt) vocabulary frame —
    * shared verbatim by dd_phonetic (batch rollup) and st_phonetic (the
    * same rollup folded by a stream).
    */
  private[graft] def phoneticFromVocab(termCounts: DataFrame): DataFrame = {
    val vocab = termCounts.filter(col("cnt") >= 5)
    val queries = vocab
      .withColumn("vpos", expr("filter(sequence(1, length(term)), i -> " +
        "instr('aeiou', substring(term, i, 1)) > 0)"))
      .filter(size(col("vpos")) > 0)
      .withColumn("hidx",
        pmod(portableHash60(concat(lit("ph:"), col("term"))),
          size(col("vpos")).cast("long")).cast("int"))
      .select(expr("concat(substring(term, 1, element_at(vpos, hidx + 1) - 1), " +
        "translate(substring(term, element_at(vpos, hidx + 1), 1), 'aeiou', 'eioua'), " +
        "substring(term, element_at(vpos, hidx + 1) + 1, length(term)))")
        .as("query"))
      .distinct()
    val tb = vocab.select(col("term"), col("cnt"),
      soundex(col("term")).as("sdx"))
    // block-size cap: a code shared by >10k terms is a skew hazard and
    // carries no blocking signal — drop it (the df-cap discipline)
    val keep = tb.groupBy("sdx").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= 10000).select("sdx")
    queries.select(col("query"), soundex(col("query")).as("sdx"))
      .join(tb.join(keep, "sdx"), "sdx")
      .withColumn("dist", levenshtein(col("query"), col("term")))
      .filter(col("dist") <= 2)
      .select(col("query"), col("term"), col("sdx"),
        col("cnt").cast("long").as("cnt"), col("dist").cast("int").as("dist"))
      .orderBy("query", "term")
      .limit(500)
  }

  // --- driver-checked query surface ---

  /** The dd_ family's shared in-session corpora, in dependency order
    * (pairs consumes the signature store) — Bench forces each under its
    * own timed `_build_*` entry so the per-query figures read MARGINAL
    * cost. Before this, the alphabetically-first consumer of the memo
    * absorbed the whole build: the r13 bench charged dd_blocking_eval
    * 204 s cold for an operator the same round's warm probe measured at
    * 1.98 s (SCALING.md) — the signature + LSH-truth-pair build in
    * disguise.
    */
  private[graft] def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "dd_sig" -> ((s, d) =>
        { minhashSignatures(Tables.load(s, d, "documents")).count(); () }),
      "dd_pairs" -> ((s, d) =>
        { minhashLshPairs(Tables.load(s, d, "documents")).count(); () }),
      // the r16 verified-pair store: exact jaccard over every LSH
      // candidate pair (consumes dd_pairs + one shingle-set pass; shared
      // by dd_minhash_est / dd_blocking_eval / dd_dup_report)
      "dd_pairs_verified" -> ((s, d) =>
        { lshVerifiedPairStats(Tables.load(s, d, "documents")).count(); () }),
      // the two r16 shared pair stores (see cappedPairStats /
      // prefixCandCounts): built at the defs' default parameters — the
      // only values the roster entries use
      "dd_pair_stats" -> ((s, d) =>
        { cappedPairStats(Tables.load(s, d, "documents"), 100).count(); () }),
      "dd_prefix_cand" -> ((s, d) =>
        { prefixCandCounts(Tables.load(s, d, "documents"), 0.5).count(); () }))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_phonetic" -> ((s, d) =>
      phoneticBlocking(Tables.load(s, d, "documents"))),
    "dd_exact" -> ((s, d) =>
      exact(Tables.load(s, d, "documents")).orderBy("content_hash")),
    "dd_dup_rate" -> ((s, d) =>
      dupRateEstimate(Tables.load(s, d, "documents"))),
    "dd_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(Tables.load(s, d, "documents"), 0.5).orderBy("a_id", "b_id")),
    // exact Jaccard through prefix filtering: the oracle is the UNCAPPED
    // full shared-shingle join — equality proves candidate completeness
    "dd_prefix_join" -> ((s, d) =>
      prefixJaccardPairs(Tables.load(s, d, "documents"), 0.5)
        .orderBy("a_id", "b_id")),
    // the production-capped twin: per-doc top-k candidates, O(docs x k)
    // verify and output regardless of duplication density
    "dd_prefix_topk" -> ((s, d) =>
      prefixTopK(Tables.load(s, d, "documents"), 0.5, 3)
        .orderBy("doc_id", "rk")),
    "dd_containment" -> ((s, d) =>
      containmentPairs(Tables.load(s, d, "documents"), 0.8)
        .orderBy("contained_id", "container_id")),
    "dd_snm" -> ((s, d) =>
      sortedNeighborhoodPairs(Tables.load(s, d, "documents"))
        .orderBy("a_id", "b_id")),
    "dd_damerau" -> ((s, d) =>
      damerauPairs(Tables.load(s, d, "documents"))
        .orderBy("a_id", "b_id")),
    "dd_jaro" -> ((s, d) =>
      jaroWinklerPairs(Tables.load(s, d, "documents"))
        .orderBy("a_id", "b_id")),
    "dd_blocking_eval" -> ((s, d) =>
      blockingEval(Tables.load(s, d, "documents"))),
    "dd_dup_report" -> ((s, d) =>
      dupReport(Tables.load(s, d, "documents"))),
    // cross-modal dedup verdict: the TEXT near-dup pairs (MinHash-LSH)
    // full-outer-merged with the IMAGE near-dup pairs (banded phash,
    // hamming <= 2) into one evidence table — a pair caught by either
    // signal surfaces with flags for both, the multi-evidence view a
    // curation pipeline resolves on. Both sides read their memoized
    // stores (signatures / phashes), so the composition adds only the
    // pair merge.
    "dd_cross_modal" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val txt = minhashLshPairs(docs).select("a_id", "b_id")
        .withColumn("text_dup", lit(1))
      val img = Multimodal.phashPairs(docs, maxHamming = 2)
        .select("a_id", "b_id").withColumn("image_dup", lit(1))
      txt.join(img, Seq("a_id", "b_id"), "full_outer")
        .na.fill(0, Seq("text_dup", "image_dup"))
        .orderBy("a_id", "b_id")
    }),
    "dd_minhash_lsh" -> ((s, d) =>
      minhashLshPairs(Tables.load(s, d, "documents")).orderBy("a_id", "b_id")),
    "dd_simhash" -> ((s, d) =>
      simhashPairs(Tables.load(s, d, "documents")).orderBy("a_id", "b_id")),
    "dd_cosine_nn" -> ((s, d) =>
      cosineTop1(Tables.load(s, d, "embeddings"), 100).orderBy("vec_id")),
    "dd_semdedup" -> ((s, d) =>
      semanticDedup(Tables.load(s, d, "embeddings")).orderBy("vec_id")),
    "dd_cdc_chunks" -> ((s, d) =>
      cdcChunkSummary(Tables.load(s, d, "documents"))),
    "dd_winnow" -> ((s, d) =>
      winnowFingerprints(Tables.load(s, d, "documents"))
        .orderBy("doc_id", "pos")),
    "dd_minhash_est" -> ((s, d) =>
      minhashEstimates(Tables.load(s, d, "documents")).orderBy("a_id", "b_id")),
    "dd_cluster" -> ((s, d) =>
      duplicateClusters(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "dd_resolve" -> ((s, d) =>
      resolveClusters(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "dd_editdist" -> ((s, d) =>
      editDistancePairs(Tables.load(s, d, "documents")).orderBy("a_id", "b_id")),
    "dd_substring" -> ((s, d) =>
      substringDedup(Tables.load(s, d, "documents")).orderBy("span")),
    // contamination check: every 20th document (doc_id % 20 == 7, ~5%)
    // plays the held-out eval set, the rest the training corpus — a
    // deterministic split expressible in the oracle SQL. Thresholds
    // measured on the corpus: background overlap tops out ≈ 0.25, planted
    // near-dups of eval docs sit ≥ 0.9, so 0.5 splits cleanly with both
    // classes present at every scale factor.
    "dd_contam" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      contamination(
        docs.filter(col("doc_id") % 20 =!= 7),
        docs.filter(col("doc_id") % 20 === 7))
        .orderBy("doc_id")
    }),
    // Bloom-prefiltered 13-gram contamination over the same eval split —
    // the long-n-gram (GPT-3-style) check whose eval side goes through a
    // Bloom valve instead of an exact broadcast; output is exact either
    // way (semi-join verify), so the oracle is the plain join.
    "dd_contam_bloom" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      contaminationBloom(
        docs.filter(col("doc_id") % 20 =!= 7),
        docs.filter(col("doc_id") % 20 === 7))
        .orderBy("doc_id")
    }),
    "dd_paragraph" -> ((s, d) =>
      paragraphDedup(Tables.load(s, d, "documents")).orderBy("doc_id")),
    // cross-snapshot dedup: the lower half of the corpus plays the
    // historical signature store, the upper half the "new batch" deduped
    // against it. The split point is data-derived ((max+1)/2) so the same
    // rule is expressible in the oracle SQL. The gated query benches the
    // PROBE — the recurring per-batch cost; the store's parquet write /
    // read / `_meta.json` drift rejection is a once-per-snapshot setup
    // step gated in DedupSpec (round-trip equivalence + drift tests),
    // not re-paid on every probe.
    "dd_incremental" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val split = docs.agg(expr("(max(doc_id) + 1) div 2").as("sp")).head().getLong(0)
      // both halves are FILTERS of the shared full-corpus signature store
      // (`_build_dd_sig`): a doc's signature is row-local (rowLocalSignatures
      // reads only the doc's own text), so sig(docs WHERE p) == sig(docs)
      // WHERE p — signing each half separately re-scanned the corpus twice
      // and memoized two redundant half-corpus signature tables (r16)
      val sig = minhashSignatures(docs)
      incrementalLshPairsFromSignatures(
        sig.filter(col("doc_id") < split),
        sig.filter(col("doc_id") >= split))
        .orderBy("a_id", "b_id")
    }),
  )

  /** Temp signature-store dir for the demo query, deleted recursively on
    * JVM exit (mirroring [[graft.streaming.EventStream]]'s staged-copy
    * cleanup) — a Bench+Verify run must not leave `graft-sigstore*` dirs
    * behind. A real pipeline passes a durable path instead.
    */
  private[graft] def tempSigStore(prefix: String = "graft-sigstore"): String = {
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          // close the listing stream BEFORE deleting the parent — an open
          // directory handle blocks the delete on non-POSIX filesystems
          val children = Files.list(p)
          try children.forEach(rm(_)) finally children.close()
        }
        Files.deleteIfExists(p)
      }
      rm(dir)
    }
    dir.toString
  }

  private val W = "list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> x <> '')"
  private val SH =
    s"""SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                         FOR i IN range(1, len(w)-1)]) AS s
       |  FROM (SELECT doc_id, $W AS w FROM documents))""".stripMargin

  /** The MinHash-LSH candidate-pair pipeline as reusable CTEs (`pairs` is
    * the final one) — shared by the LSH, cluster and edit-distance oracles
    * exactly as the Spark side shares [[lshPairsFromSignatures]].
    */
  /** The oracle's replay of [[minhashSignatures]] + [[bandsOf]] — shared
    * with the `src_dsv2` band-store round-trip, whose store holds exactly
    * this `bands` relation.
    */
  private[graft] val BANDS_CTES =
    s"""sh AS ($SH),
       |h AS (SELECT doc_id,
       |        CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h0
       |      FROM sh),
       |perms AS (SELECT i, (i * 2654435761) % 2147483647 AS a,
       |                 (i * 982451653) % 2147483647 AS b
       |          FROM range(1, 33) t(i)),
       |sig AS (SELECT doc_id, i, min((a * h0 + b) % 2147483647) AS m
       |        FROM h CROSS JOIN perms GROUP BY 1, 2),
       |bands AS (SELECT doc_id, (i - 1) // 4 AS band,
       |            md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS bkey
       |          FROM sig GROUP BY doc_id, (i - 1) // 4)""".stripMargin

  private[graft] val PAIR_CTES =
    s"""$BANDS_CTES,
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  // the Rabin-Karp fold over code points (== ascii for this corpus), same
  // base/modulus as graft.functions.FnvHash.poly31
  private def polyFold(e: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($e, ''), x -> CAST(ascii(x) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** Classic Soundex in DuckDB SQL, mirroring Spark's builtin (golden
    * vectors pinned in DedupSpec): letters map through one `translate`
    * (digits for consonants, '.' for vowels/Y, '-' for H/W); H/W marks
    * are removed BEFORE the run collapse (same-code letters bridge across
    * them — Ashcraft → A261), vowels AFTER (they break runs — Tymczak →
    * T522); the first letter's own code run is dropped (Pfister → P236).
    * DuckDB's RE2 regex has no backreferences, so runs collapse with one
    * `regexp_replace` per digit. Renders `SELECT <carried>, sdx FROM
    * (<rel>)` for a relation exposing a lowercase-alpha column `col`.
    */
  private def soundexSelect(rel: String, col: String, carried: String*): String = {
    val collapse = (1 to 6).foldLeft(s"replace(codes, '-', '')") {
      (acc, d) => s"regexp_replace($acc, '$d{2,}', '$d', 'g')"
    }
    val cols = carried.map(_ + ", ").mkString
    s"""SELECT $cols upper(substr($col, 1, 1)) ||
       |    substr((CASE WHEN substr(codes, 1, 1) IN ('.', '-') THEN c2
       |            ELSE substr(c2, 2) END) || '000', 1, 3) AS sdx
       |  FROM (SELECT $cols codes, replace($collapse, '.', '') AS c2
       |        FROM (SELECT $cols translate(upper($col),
       |          'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |          '.123.12-.22455.12623.1-2.2') AS codes FROM ($rel)))""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // dd_phonetic: the identically-derived corrupted query log blocked
    // against the vocabulary on a pure-SQL classic Soundex, verified by
    // exact levenshtein — equality proves the translate-chain Soundex ≡
    // Spark's builtin over the real corpus AND that blocking+verify kept
    // exactly the distance-≤2 in-block pairs
    "dd_phonetic" -> {
      val qsel = soundexSelect("SELECT query FROM q", "query", "query")
      val tsel = soundexSelect(
        "SELECT term, cnt FROM vocab", "term", "term", "cnt")
      s"""WITH tok AS (
         |  SELECT lower(t) AS term
         |  FROM (SELECT unnest($W) AS t FROM documents)
         |  WHERE regexp_full_match(lower(t), '[a-z]+')
         |    AND len(t) BETWEEN 4 AND 12),
         |vocab AS (SELECT term, count(*) AS cnt FROM tok
         |          GROUP BY 1 HAVING count(*) >= 5),
         |vp AS (
         |  SELECT term,
         |    [i FOR i IN range(1, len(term) + 1)
         |     IF instr('aeiou', substr(term, i, 1)) > 0] AS vpos
         |  FROM vocab),
         |q0 AS (
         |  SELECT term,
         |    vpos[CAST(CAST(concat('0x', substr(md5('ph:' || term), 1, 15))
         |      AS BIGINT) % len(vpos) AS INTEGER) + 1] AS p
         |  FROM vp WHERE len(vpos) > 0),
         |q AS (
         |  SELECT DISTINCT concat(substr(term, 1, p - 1),
         |    translate(substr(term, p, 1), 'aeiou', 'eioua'),
         |    substr(term, p + 1, len(term))) AS query
         |  FROM q0),
         |qs AS ($qsel),
         |ts AS ($tsel),
         |blk AS (SELECT sdx FROM ts GROUP BY 1 HAVING count(*) <= 10000)
         |SELECT qs.query, ts.term, ts.sdx, CAST(ts.cnt AS BIGINT) AS cnt,
         |  CAST(levenshtein(qs.query, ts.term) AS INTEGER) AS dist
         |FROM qs JOIN ts USING (sdx) JOIN blk USING (sdx)
         |WHERE levenshtein(qs.query, ts.term) <= 2
         |ORDER BY query, term LIMIT 500""".stripMargin
    },
    "dd_contam_bloom" ->
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct([array_to_string(w[i : i + 12], ' ')
         |        FOR i IN range(1, len(w) - 11)]) AS g
         |      FROM t WHERE len(w) >= 13),
         |ev AS (SELECT DISTINCT unnest(g) AS s FROM g WHERE doc_id % 20 = 7),
         |corpus AS (SELECT doc_id, g FROM g WHERE doc_id % 20 <> 7),
         |hits AS (SELECT c.doc_id, count(*) AS nh
         |         FROM (SELECT doc_id, unnest(g) AS s FROM corpus) c
         |         JOIN ev USING (s) GROUP BY c.doc_id)
         |SELECT c.doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(coalesce(nh, 0) AS BIGINT) AS n_overlapping_ngrams,
         |  CAST(coalesce(nh, 0) AS DOUBLE) / len(g) AS contam_frac,
         |  CAST(CAST(coalesce(nh, 0) AS DOUBLE) / len(g) >= 0.3 AS INTEGER)
         |    AS contaminated
         |FROM corpus c LEFT JOIN hits USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    "dd_paragraph" ->
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |c AS (SELECT doc_id,
         |        unnest([struct_pack(ci := CAST((i - 1) // 10 AS INTEGER),
         |                            ch := array_to_string(w[i : i + 9], ' '))
         |                FOR i IN range(1, len(w) - 8, 10)]) AS s
         |      FROM t WHERE len(w) >= 10),
         |f AS (SELECT doc_id, s.ci AS chunk_idx, s.ch AS chunk FROM c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY chunk
         |        ORDER BY doc_id, chunk_idx) AS rn FROM f)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
         |        ORDER BY chunk_idx), '')) AS cleaned_md5
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_contam" ->
      s"""WITH sh AS ($SH),
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 7),
         |corpus AS (SELECT * FROM sh WHERE doc_id % 20 <> 7)
         |SELECT c.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overlapping_ngrams,
         |  CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS contam_frac,
         |  CAST(CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) >= 0.5 AS INTEGER) AS contaminated
         |FROM corpus c LEFT JOIN ev e ON c.s = e.s
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "dd_substring" ->
      s"""WITH spans AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(w[i : i + 5], ' ')
         |            FOR i IN range(1, len(w) - 4)]) AS span
         |  FROM (SELECT doc_id, $W AS w FROM documents)
         |  WHERE len(w) >= 6)
         |SELECT ${polyFold("span")} AS span_hash, span,
         |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
         |  min(doc_id) AS first_doc
         |FROM spans GROUP BY span HAVING count(*) >= 2 ORDER BY span""".stripMargin,
    // dd_cdc: the rolling-window boundary rule replayed per END POSITION
    // (the O(n·W) stateless form of the JVM's O(n) rolling fold), chunks
    // reassembled with gaps-and-islands over the boundary set
    "dd_cdc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents),
         |pos AS (SELECT doc_id, text, n, unnest(range(8, n + 1)) AS i
         |        FROM d WHERE n >= 8),
         |hh AS (SELECT doc_id, i,
         |         ${polyFold("substr(text, CAST(i - 7 AS INTEGER), 8)")} AS h
         |       FROM pos),
         |b AS (SELECT doc_id, i FROM hh WHERE h % 64 = 0),
         |cb AS (SELECT doc_id,
         |         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
         |           + 1 AS s,
         |         i AS e
         |       FROM b),
         |tail AS (SELECT d.doc_id, coalesce(max(b.i), 0) + 1 AS s, d.n AS e
         |         FROM d LEFT JOIN b USING (doc_id)
         |         GROUP BY d.doc_id, d.n
         |         HAVING coalesce(max(b.i), 0) < d.n AND d.n > 0),
         |allc AS (SELECT * FROM cb UNION ALL SELECT * FROM tail),
         |ch AS (SELECT a.doc_id,
         |         CAST(concat('0x', substr(md5(substr(d.text,
         |           CAST(a.s AS INTEGER), CAST(a.e - a.s + 1 AS INTEGER))),
         |           1, 15)) AS BIGINT) AS h60
         |       FROM allc a JOIN d ON d.doc_id = a.doc_id),
         |df AS (SELECT h60, count(DISTINCT doc_id) AS docs
         |       FROM ch GROUP BY 1),
         |per AS (SELECT doc_id, count(*) AS n_chunks,
         |          count(DISTINCT h60) AS distinct_chunks,
         |          bit_xor(h60) AS chunk_xor
         |        FROM ch GROUP BY 1),
         |sh AS (SELECT ch.doc_id, count(DISTINCT ch.h60) AS shared
         |       FROM ch JOIN df USING (h60) WHERE df.docs >= 2 GROUP BY 1)
         |SELECT d.doc_id, n AS n_chars,
         |  coalesce(n_chunks, 0) AS n_chunks,
         |  coalesce(distinct_chunks, 0) AS distinct_chunks,
         |  coalesce(chunk_xor, 0) AS chunk_xor,
         |  coalesce(sh.shared, 0) AS shared_chunks
         |FROM d LEFT JOIN per USING (doc_id) LEFT JOIN sh USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dd_winnow" ->
      s"""WITH hs AS (
         |  SELECT doc_id,
         |    [${polyFold("array_to_string(w[i : i + 3], ' ')")}
         |     FOR i IN range(1, len(w) - 2)] AS hs
         |  FROM (SELECT doc_id, $W AS w FROM documents)
         |  WHERE len(w) >= 7),
         |sel AS (
         |  SELECT doc_id, i, hs, list_min(hs[i : i + 3]) AS fp
         |  FROM (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS i
         |        FROM hs))
         |SELECT DISTINCT doc_id,
         |  CAST(list_max([j FOR j IN range(i, i + 4) IF hs[j] = fp])
         |       AS INTEGER) AS pos,
         |  fp
         |FROM sel ORDER BY doc_id, pos""".stripMargin,
    "dd_incremental" ->
      s"""WITH $PAIR_CTES,
         |s AS (SELECT (max(doc_id) + 1) // 2 AS split FROM documents)
         |SELECT a_id, b_id FROM pairs, s
         |WHERE a_id >= split OR b_id >= split ORDER BY 1, 2""".stripMargin,
    "dd_cluster" ->
      s"""WITH RECURSIVE $PAIR_CTES,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |walk(node, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
         |SELECT node AS doc_id, min(reach) AS cluster_id,
         |  CAST(node = min(reach) AS INTEGER) AS is_rep
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "dd_resolve" ->
      s"""WITH RECURSIVE $PAIR_CTES,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |walk(node, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
         |cl AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |       FROM walk GROUP BY node)
         |SELECT d.doc_id, cl.cluster_id, d.n_chars,
         |  count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
         |  CAST(row_number() OVER (PARTITION BY cl.cluster_id
         |         ORDER BY d.n_chars DESC, d.doc_id) = 1 AS INTEGER) AS keep
         |FROM cl JOIN documents d ON d.doc_id = cl.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dd_editdist" ->
      s"""WITH $PAIR_CTES
         |SELECT a_id, b_id, levenshtein(da.text, db.text) AS edit_dist,
         |  1 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |      / greatest(length(da.text), length(db.text)) AS edit_sim
         |FROM pairs
         |JOIN documents da ON da.doc_id = a_id
         |JOIN documents db ON db.doc_id = b_id
         |ORDER BY a_id, b_id""".stripMargin,
    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // dd_dup_rate: the same content-hash bucket sample (groups intact or
    // absent), removable fractions in basis points by integer division
    "dd_dup_rate" ->
      s"""WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS sample_n,
        |    CAST(count(DISTINCT text) AS BIGINT) AS sample_distinct
        |  FROM documents
        |  WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
        |        % $DupRateBuckets = 0),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS full_n,
        |    CAST(count(DISTINCT text) AS BIGINT) AS full_distinct
        |  FROM documents)
        |SELECT sample_n, sample_distinct,
        |  CASE WHEN sample_n > 0 THEN
        |    CAST((10000 * (sample_n - sample_distinct)) // sample_n
        |         AS BIGINT) END AS est_bp,
        |  full_n, full_distinct,
        |  CASE WHEN full_n > 0 THEN
        |    CAST((10000 * (full_n - full_distinct)) // full_n
        |         AS BIGINT) END AS exact_bp,
        |  CASE WHEN sample_n > 0 AND full_n > 0 THEN
        |    CAST((10000 * (sample_n - sample_distinct)) // sample_n
        |         - (10000 * (full_n - full_distinct)) // full_n
        |         AS BIGINT) END AS est_err_bp
        |FROM s, f""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH sh_all AS ($SH),
         |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh_all GROUP BY 1)
         |         WHERE df <= 100),
         |sh AS (SELECT sh_all.* FROM sh_all JOIN kept USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1,2)
         |SELECT a_id, b_id, inter, sa.n + sb.n - inter AS uni,
         |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    "dd_minhash_lsh" ->
      s"""WITH $PAIR_CTES
         |SELECT a_id, b_id FROM pairs ORDER BY 1, 2""".stripMargin,
    // dd_cross_modal: the LSH pair CTEs and the phash pixel-recipe CTEs
    // composed (disjoint CTE names), merged by the same full outer join
    "dd_cross_modal" ->
      s"""WITH $PAIR_CTES,
         |${Multimodal.phashOracleCtes},
         |ip AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |       FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.phash60, b.phash60)) <= 2)
         |SELECT coalesce(p.a_id, ip.a_id) AS a_id,
         |       coalesce(p.b_id, ip.b_id) AS b_id,
         |       CAST(p.a_id IS NOT NULL AS INTEGER) AS text_dup,
         |       CAST(ip.a_id IS NOT NULL AS INTEGER) AS image_dup
         |FROM pairs p FULL OUTER JOIN ip
         |  ON p.a_id = ip.a_id AND p.b_id = ip.b_id
         |ORDER BY 1, 2""".stripMargin,
    // dd_snm: the oracle sorts GLOBALLY with row_number — equality
    // NOTE (r13 fuzzer): DuckDB's array_to_string of an EMPTY list is
    // NULL (sorts LAST under NULLS LAST) while Spark's concat_ws is ''
    // (sorts first) — an empty-token doc silently lands at the opposite
    // end of the SNM order. coalesce('') pins the oracle to Spark's
    // total order; applied to all four bk derivations below.
    // proves the two-level bucket rank reproduces the global order
    "dd_snm" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    substr(coalesce(array_to_string(
         |      list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                  x -> x <> ''), ' '), ''), 1, 12) AS bk
         |  FROM documents),
         |r AS (SELECT doc_id, text, bk,
         |        row_number() OVER (ORDER BY bk, doc_id) AS rank FROM t),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        b.rank - a.rank AS rank_dist, a.text AS ta, b.text AS tb
         |      FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 4)
         |SELECT a_id, b_id, CAST(rank_dist AS INTEGER) AS rank_dist,
         |  1 - CAST(levenshtein(ta, tb) AS DOUBLE)
         |      / greatest(length(ta), length(tb)) AS edit_sim
         |FROM p
         |WHERE 1 - CAST(levenshtein(ta, tb) AS DOUBLE)
         |      / greatest(length(ta), length(tb)) >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,
    // dd_damerau: same global-sort pair derivation as dd_snm (window 2),
    // verify metric is DuckDB's own damerau_levenshtein — the native
    // expression must agree on every candidate pair
    "dd_damerau" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    substr(coalesce(array_to_string(
         |      list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                  x -> x <> ''), ' '), ''), 1, 12) AS bk
         |  FROM documents),
         |r AS (SELECT doc_id, text, bk,
         |        row_number() OVER (ORDER BY bk, doc_id) AS rank FROM t),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        a.text AS ta, b.text AS tb
         |      FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 2)
         |SELECT a_id, b_id,
         |  CAST(levenshtein(ta, tb) AS INTEGER) AS lev_dist,
         |  CAST(damerau_levenshtein(ta, tb) AS INTEGER) AS dl_dist,
         |  CAST(levenshtein(ta, tb) - damerau_levenshtein(ta, tb)
         |    AS INTEGER) AS transposition_gain
         |FROM p ORDER BY a_id, b_id""".stripMargin,
    // dd_jaro: same pair derivation as dd_damerau; verify metric is
    // DuckDB's own jaro_winkler_similarity — the native expression was
    // fuzz-calibrated to it (9k pairs, zero mismatches) and must agree
    // on every candidate pair here too
    "dd_jaro" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    substr(coalesce(array_to_string(
         |      list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                  x -> x <> ''), ' '), ''), 1, 12) AS bk
         |  FROM documents),
         |r AS (SELECT doc_id, text, bk,
         |        row_number() OVER (ORDER BY bk, doc_id) AS rank FROM t),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |        a.text AS ta, b.text AS tb
         |      FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 2)
         |SELECT a_id, b_id,
         |  jaro_winkler_similarity(ta, tb) AS jw_sim,
         |  1 - CAST(levenshtein(ta, tb) AS DOUBLE)
         |      / greatest(length(ta), length(tb)) AS edit_sim,
         |  jaro_winkler_similarity(ta, tb)
         |    - (1 - CAST(levenshtein(ta, tb) AS DOUBLE)
         |        / greatest(length(ta), length(tb))) AS jw_gain
         |FROM p ORDER BY a_id, b_id""".stripMargin,
    // dd_dup_report: the same verified-pair truth CTEs; membership via
    // pair-id union, per-source share one division
    "dd_dup_report" ->
      s"""WITH $PAIR_CTES,
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
         |isect AS (
         |  SELECT p.a_id, p.b_id, count(*) AS inter
         |  FROM pairs p
         |  JOIN ds a ON a.doc_id = p.a_id
         |  JOIN ds b ON b.doc_id = p.b_id AND b.s = a.s
         |  GROUP BY 1, 2),
         |tp AS (
         |  SELECT i.a_id, i.b_id
         |  FROM isect i JOIN sizes na ON na.doc_id = i.a_id
         |               JOIN sizes nb ON nb.doc_id = i.b_id
         |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5),
         |mem AS (SELECT DISTINCT doc_id FROM (
         |          SELECT a_id AS doc_id FROM tp
         |          UNION ALL SELECT b_id FROM tp))
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_members,
         |  CAST(sum(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_share
         |FROM documents d LEFT JOIN mem ON mem.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // dd_blocking_eval: the SNM rank derivation + the LSH pair CTEs
    // with the exact shingle-Jaccard verify as the truth set; both
    // ratios one division (HUGEINT products via VARCHAR — the q124
    // correctly-rounded-cast lesson)
    "dd_blocking_eval" ->
      s"""WITH $PAIR_CTES,
         |t AS (
         |  SELECT doc_id,
         |    substr(coalesce(array_to_string(
         |      list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                  x -> x <> ''), ' '), ''), 1, 12) AS bk
         |  FROM documents),
         |r AS (SELECT doc_id, bk,
         |        row_number() OVER (ORDER BY bk, doc_id) AS rank FROM t),
         |bp AS (SELECT least(a.doc_id, b.doc_id) AS a_id,
         |         greatest(a.doc_id, b.doc_id) AS b_id
         |       FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 4),
         |ds AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
         |isect AS (
         |  SELECT p.a_id, p.b_id, count(*) AS inter
         |  FROM pairs p
         |  JOIN ds a ON a.doc_id = p.a_id
         |  JOIN ds b ON b.doc_id = p.b_id AND b.s = a.s
         |  GROUP BY 1, 2),
         |tp AS (
         |  SELECT i.a_id, i.b_id
         |  FROM isect i JOIN sizes na ON na.doc_id = i.a_id
         |               JOIN sizes nb ON nb.doc_id = i.b_id
         |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5),
         |c AS (SELECT count(*) AS caught FROM tp
         |      WHERE EXISTS (SELECT 1 FROM bp
         |        WHERE bp.a_id = tp.a_id AND bp.b_id = tp.b_id)),
         |n1 AS (SELECT count(*) AS n_docs FROM documents),
         |n3 AS (SELECT count(*) AS blocking_pairs FROM bp),
         |n4 AS (SELECT count(*) AS truth_pairs FROM tp)
         |SELECT n_docs, blocking_pairs, truth_pairs,
         |  caught AS caught_pairs,
         |  CASE WHEN truth_pairs > 0 THEN
         |    CAST(caught AS DOUBLE) / CAST(truth_pairs AS DOUBLE) END
         |    AS recall,
         |  CASE WHEN n_docs > 1 THEN
         |    CAST(CAST(2 * CAST(blocking_pairs AS HUGEINT) AS VARCHAR)
         |      AS DOUBLE)
         |    / CAST(CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1) AS VARCHAR)
         |      AS DOUBLE) END AS blocking_share
         |FROM n1, n3, n4, c""".stripMargin,
    "dd_containment" ->
      s"""WITH sh_all AS ($SH),
         |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh_all GROUP BY 1)
         |         WHERE df <= 100),
         |sh AS (SELECT sh_all.* FROM sh_all JOIN kept USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1,2),
         |j AS (SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb
         |      FROM inter JOIN sizes sa ON a_id = sa.doc_id
         |                 JOIN sizes sb ON b_id = sb.doc_id)
         |SELECT CASE WHEN na <= nb THEN a_id ELSE b_id END AS contained_id,
         |       CASE WHEN na <= nb THEN b_id ELSE a_id END AS container_id,
         |       inter, least(na, nb) AS n_contained,
         |       greatest(na, nb) AS n_container,
         |       CAST(inter AS DOUBLE) / least(na, nb) AS containment
         |FROM j WHERE CAST(inter AS DOUBLE) / least(na, nb) >= 0.8
         |ORDER BY 1, 2""".stripMargin,
    "dd_prefix_join" ->
      s"""WITH sh AS ($SH),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1,2)
         |SELECT a_id, b_id, inter, sa.n + sb.n - inter AS uni,
         |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM inter JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    // replays the PREFIX definition itself (df ascending, ties by shingle
    // text; p = n - ceil(tau*n) + 1 with the same 1e-9 downward guard) so
    // the candidate stage — not just the verify — is hash-gated
    "dd_prefix_topk" ->
      s"""WITH sh AS ($SH),
         |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         |ord AS (SELECT sh.doc_id, sh.s,
         |          row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.s) AS rn,
         |          count(*) OVER (PARTITION BY sh.doc_id) AS n
         |        FROM sh JOIN dfreq USING (s)),
         |pref AS (SELECT doc_id, s FROM ord
         |         WHERE rn <= n - CAST(ceil(0.5 * n - 1e-9) AS BIGINT) + 1),
         |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS overlap
         |         FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |sym AS (SELECT a_id AS doc_id, b_id AS cand_id, overlap FROM cand
         |        UNION ALL SELECT b_id, a_id, overlap FROM cand),
         |topk AS (SELECT * FROM (
         |           SELECT doc_id, cand_id, overlap,
         |             row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY overlap DESC, cand_id) AS rk
         |           FROM sym) WHERE rk <= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT t.doc_id, t.cand_id, t.overlap, t.rk, count(*) AS inter
         |          FROM topk t
         |          JOIN sh sa ON sa.doc_id = t.doc_id
         |          JOIN sh sb ON sb.doc_id = t.cand_id AND sb.s = sa.s
         |          GROUP BY 1, 2, 3, 4)
         |SELECT i.doc_id, i.cand_id, i.overlap, i.rk, i.inter,
         |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_id
         |             JOIN sizes sb ON sb.doc_id = i.cand_id
         |ORDER BY i.doc_id, i.rk""".stripMargin,
    "dd_simhash" ->
      s"""WITH sh AS ($SH),
         |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
         |       FROM sh),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS score
         |         FROM th CROSS JOIN range(0, 60) r(b) GROUP BY 1, 2),
         |sim AS (SELECT doc_id,
         |          CAST(sum(CASE WHEN score > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
         |               AS BIGINT) AS simhash
         |        FROM bits GROUP BY 1)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 9
         |ORDER BY 1, 2""".stripMargin,
    "dd_minhash_est" ->
      s"""WITH sh AS ($SH),
         |h AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h0
         |      FROM sh),
         |perms AS (SELECT i, (i * 2654435761) % 2147483647 AS a,
         |                 (i * 982451653) % 2147483647 AS b
         |          FROM range(1, 33) t(i)),
         |sig AS (SELECT doc_id, i, min((a * h0 + b) % 2147483647) AS m
         |        FROM h CROSS JOIN perms GROUP BY 1, 2),
         |bands AS (SELECT doc_id, (i - 1) // 4 AS band,
         |            md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS bkey
         |          FROM sig GROUP BY doc_id, (i - 1) // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT p.a_id, p.b_id,
         |          CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 32
         |            AS est_jaccard
         |        FROM pairs p
         |        JOIN sig sa ON sa.doc_id = p.a_id
         |        JOIN sig sb ON sb.doc_id = p.b_id AND sb.i = sa.i
         |        GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT e.a_id AS a_id, e.b_id AS b_id, e.est_jaccard,
         |  CAST(coalesce(i.inter, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(i.inter, 0)) AS jaccard
         |FROM est e
         |LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
         |JOIN sizes sa ON sa.doc_id = e.a_id
         |JOIN sizes sb ON sb.doc_id = e.b_id
         |ORDER BY e.a_id, e.b_id""".stripMargin,
    "dd_semdedup" ->
      """WITH qq AS (
        |  SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS DOUBLE)) AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                                  x -> abs(x))) AS m
        |        FROM embeddings) WHERE m > 0),
        |dims AS (SELECT DISTINCT generate_subscripts(embedding, 1) AS d
        |         FROM embeddings),
        |planes AS (
        |  SELECT p, d,
        |    CASE WHEN CAST(concat('0x',
        |           substr(md5('sd:' || p || ',' || (d - 1)), 1, 15)) AS BIGINT)
        |         % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(0, 6) r(p), dims),
        |proj AS (SELECT vec_id, p, sum(s * q[d]) AS dotp
        |         FROM qq, planes GROUP BY 1, 2),
        |bq AS (SELECT vec_id,
        |         CAST(sum(CASE WHEN dotp >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
        |           AS bucket
        |       FROM proj GROUP BY 1),
        |sizes AS (SELECT bucket, count(*) AS n_bucket FROM bq GROUP BY 1),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |    CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot,
        |    CAST(list_dot_product(qa.q, qa.q) AS BIGINT) AS na,
        |    CAST(list_dot_product(qb.q, qb.q) AS BIGINT) AS nb
        |  FROM bq a JOIN bq b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |  JOIN qq qa ON qa.vec_id = a.vec_id
        |  JOIN qq qb ON qb.vec_id = b.vec_id),
        |scored AS (
        |  SELECT vec_id, nn_id,
        |    CASE WHEN na * nb = 0 THEN -2.0 ELSE
        |      CAST(CASE WHEN dot < 0 THEN -(dot * dot) ELSE dot * dot END AS DOUBLE)
        |      / CAST(na * nb AS DOUBLE) END AS scos2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY
        |      CASE WHEN na * nb = 0 THEN -2.0 ELSE
        |        CAST(CASE WHEN dot < 0 THEN -(dot * dot) ELSE dot * dot END AS DOUBLE)
        |        / CAST(na * nb AS DOUBLE) END DESC, nn_id) AS rn
        |  FROM pairs)
        |SELECT q.vec_id, q.bucket, s.n_bucket, t.nn_id, t.scos2,
        |  CAST(coalesce(t.scos2 >= 0.81, false) AS INTEGER) AS is_semdup
        |FROM bq q JOIN sizes s USING (bucket)
        |LEFT JOIN (SELECT * FROM scored WHERE rn = 1) t ON t.vec_id = q.vec_id
        |ORDER BY q.vec_id""".stripMargin,
    "dd_cosine_nn" ->
      """SELECT vec_id, nn_id FROM (
        |  SELECT q.vec_id, c.vec_id AS nn_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 100 AND c.vec_id <> q.vec_id)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
  )
}
