package graft.operators

import graft.core.Memo
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]):
  *  - brute-force cosine top-k — the exact baseline (oracle-checked);
  *  - sign-random-projection LSH bucketing and IVF cell probing — the
  *    approximate scale paths: candidates only within a query's bucket /
  *    probed cells, so the per-query cost drops from O(N) to
  *    O(N / 2^bits) resp. O(N · nProbe / nCentroids) expected, at a
  *    recall cost measured in DedupSpec.
  *
  * The approximate paths run entirely in int8-QUANTIZED space (the
  * [[Embeddings.quantizeInt8]] half-up formula): bucket bits are signs of
  * exact integer dot products and ranking is the exact-integer signed
  * squared cosine ([[Embeddings.exactScos2]]) — so, like [[Dedup
  * .semanticDedup]], the full operators are deterministic and hash-match
  * a DuckDB replay, not merely rows-checkable. (Production ANN quantizes
  * for the same reason FAISS does — 4× less candidate memory traffic —
  * the determinism is a free extra here.) All vector math is codegen'd
  * native expressions — no UDFs, no interpreted higher-order functions.
  */
object Similarity {

  import graft.functions.vector.vecDot

  /** Left-to-right double dot product of two array columns — a native
    * codegen'd Catalyst expression ([[graft.functions.DotProduct]]), not a
    * higher-order function (those evaluate interpretively per row).
    */
  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k cosine neighbors of each query vector among candidates
    * (self-matches excluded). Broadcast the (small) query side; candidates
    * stream through — one pass, no shuffle of the candidate table. Norms
    * are precomputed once per vector, not once per pair; sim values are
    * bit-identical to the naive cosine (same sqrt, same product order).
    *
    * Zero-norm guard (r13 fuzzer): a zero vector makes the norm product
    * 0 and Spark's ANSI default turns the division into a job-killing
    * error. Such pairs score −1.0 — DuckDB's own
    * list_cosine_similarity convention for zero vectors, so the oracle
    * replays verbatim; ties against true antipodal pairs resolve by the
    * deterministic neighbor_id tie-break on both engines.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", sqrt(vecDot(col("qv"), col("qv")))))
    val c = candidates
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", sqrt(vecDot(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(-1.0))
          .otherwise(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Multi-table sign-random-projection signatures: `tables` independent
    * hash tables of `bits` hyperplanes each. Hyperplane signs are
    * deterministically derived from the portable hash of (table, bit, dim),
    * so buckets are stable across runs. Returns (vec_id, table, bucket).
    *
    * Single-table SRP is useless on near-uniform embeddings (measured
    * recall 0.02 with one 8-bit table on the test corpus — matching the
    * (1-θ/π)^bits collision probability); the union over L small tables is
    * the standard fix, trading candidate volume for recall.
    */
  /** Hyperplane sign for (table, bit, dim) — same md5-prefix parity as
    * [[portableHash60]] would give on concat_ws(",", t, b, d), computed
    * driver-side so the planes become constant vectors in the plan.
    */
  private def planeSign(t: Int, b: Int, d: Int): Double =
    graft.functions.hashes.md5ParitySign(s"$t,$b,$d")

  /** int8 codes of the embedding column as exact small integers in
    * double (shared half-up formula — [[Embeddings.int8Code]]), zero
    * vectors excluded (no direction, no cosine; mirrored in the oracle).
    */
  private def quantized(df: DataFrame, idAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), asDouble(col("embedding")).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .filter(col("m") > 0.0)
      .select(col(idAs),
        transform(col("v"), x => Embeddings.int8Code(x, col("m"))).as("q"))

  /** [[quantized]] for a CANDIDATE table, memoized per corpus lineage
    * (r16): the four approximate index builders each re-ran the full
    * int8 quantization pass over the same candidates frame inside
    * `_build_ann_panel`; the codes store (O(vectors × dim) small
    * integers) is built once and every index reads it. Same store
    * discipline as the MinHash signature table.
    */
  private def quantizedCandidates(candidates: DataFrame): DataFrame =
    Memo("ann_codes", candidates)(
      quantized(candidates, "neighbor_id"))

  def srpBuckets(emb: DataFrame, tables: Int, bits: Int, dim: Int): DataFrame =
    srpBucketsOfCodes(quantized(emb, "vec_id"), tables, bits, dim)

  private def srpBucketsOfCodes(codes: DataFrame, tables: Int, bits: Int,
                                dim: Int): DataFrame = {
    // ONE native srp_codes expression holding the tables×bits×dim plane
    // matrix as a codegen reference object. The column formulation built
    // the same planes as tables×bits dim-element typedLits (2048 literals
    // at the defaults) and paid per-session Catalyst-analysis + codegen
    // for them — the ann_ivf fixed-cost class. The kernel's left-to-right
    // dot and strict `> 0` rule are mirrored in the oracle SQL; because
    // the input vectors are exact INTEGER codes, every projection is an
    // exact integer and no floating boundary flip can move a vector
    // between buckets — in any engine, in any summation order (the
    // double-precision form documented exactly that hazard instead).
    import graft.functions.vector.srpCodes
    val planes = for (t <- 0 until tables; b <- 0 until bits)
      yield (0 until dim).map(d => planeSign(t, b, d))
    codes.select(col(codes.columns.head),
        posexplode(srpCodes(col("q"), planes, bits)).as(Seq("t", "bucket")))
      .select(col(codes.columns.head), col("t"), col("bucket"))
  }

  /** Approximate top-k: exact cosine ranking over the union of candidates
    * sharing any (table, bucket) with the query. Candidate volume per query
    * ~ N * tables / 2^bits (times bits+1 with multi-probe); recall measured
    * in DedupSpec.
    *
    * Multi-probe (default on): the query also probes every hamming-1
    * neighbor of its bucket in each table. A true neighbor missed by the
    * exact bucket almost always differs in exactly one near-boundary
    * hyperplane sign, so probing the bits+1 adjacent buckets recovers most
    * of the recall lost to boundary flips — the standard trick to buy
    * recall with a small candidate-volume factor instead of more tables
    * (more tables would also re-hash every CANDIDATE; multi-probe only
    * expands the tiny query side). Measured on the test corpus:
    * 0.60 -> 1.00 recall@5 for ~5x candidate volume.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 4, dim: Int = 64,
              multiProbe: Boolean = true): DataFrame = {
    val qc = quantizedCandidates(candidates)
    val qq = quantized(queries, "query_id")
    val cb = srpBucketsOfCodes(qc, tables, bits, dim)
    val qbRaw = srpBucketsOfCodes(qq, tables, bits, dim)
    val probed =
      if (!multiProbe) qbRaw
      else qbRaw.select(col("query_id"), col("t"),
        explode(array(col("bucket") +:
          (0 until bits).map(b => col("bucket").bitwiseXOR(lit(1L << b))): _*))
          .as("bucket"))
    val cand = broadcast(probed).join(cb, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // exact re-rank over the candidate set only: integer dot and squared
    // norms, ONE IEEE division (exactScos2) — monotone in cosine and
    // bit-identical in every engine, so rank never flips vs the oracle
    val withVec = cand
      .join(broadcast(qq.select(col("query_id"), col("q").as("qa"))), "query_id")
      .join(qc.select(col("neighbor_id"), col("q").as("qb")), "neighbor_id")
      .withColumn("dot", vecDot(col("qa"), col("qb")).cast("long"))
      .withColumn("na", vecDot(col("qa"), col("qa")).cast("long"))
      .withColumn("nb", vecDot(col("qb"), col("qb")).cast("long"))
      .withColumn("scos2", Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("scos2").desc, col("neighbor_id"))
    withVec
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein SIGIR'98) —
    * DIVERSIFIED top-k retrieval, the selection rule a training-data
    * pipeline uses to pick examples that are relevant but not
    * redundant: greedily take argmax of λ·rel(q,c) − (1−λ)·max_{s∈S}
    * sim(c,s) over the remaining candidates. Runs entirely in the
    * int8-quantized space ([[quantized]] — THE one quantization
    * source): rel and all pairwise sims are [[Embeddings.exactScos2]]
    * over exact integer dots, λ-arithmetic is a fixed IEEE expression
    * order, and every tie breaks to the smaller neighbor_id — fully
    * deterministic, so the oracle replays the greedy loop as chained
    * SQL CTEs and hash-matches.
    *
    * Scale: the candidate pool is the exact top-`nCand` per query
    * (one broadcast-query pass over the corpus, the bruteForceTopK
    * envelope); the greedy selection runs driver-side over the
    * COLLECTED pool — nQueries × nCand rows, bounded by the
    * PARAMETERS, never by the corpus (the ivf-codebook collect
    * convention). A larger deployment would push selection into one
    * task per query via mapGroups; the arithmetic is identical.
    */
  def mmrTopK(emb: DataFrame, nQueries: Int = 8, nCand: Int = 24,
              k: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qc = quantized(emb, "neighbor_id")
    val qq = quantized(emb.filter(col("vec_id") < nQueries), "query_id")
    val scored = broadcast(qq.select(col("query_id"), col("q").as("qa")))
      .join(qc, col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", vecDot(col("qa"), col("q")).cast("long"))
      .withColumn("na", vecDot(col("qa"), col("qa")).cast("long"))
      .withColumn("nb", vecDot(col("q"), col("q")).cast("long"))
      .withColumn("rel",
        Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("neighbor_id"))
    val cand = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= nCand)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("q"))
    // parameter-bounded collect: nQueries × nCand rows
    val pool = cand.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3).map(_.toLong).toArray)
    }
    // exact-integer scos2, the SQL twin of $SCOS2 (dot ≤ 127²·dim keeps
    // dot² inside int64)
    def scos2(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val num = if (dot < 0) -(dot * dot) else dot * dot
      num.toDouble / (na * nb).toDouble
    }
    val out = pool.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      var remaining = cs.map(c => (c._2, c._3, c._4)).toList
      val maxsim = scala.collection.mutable.Map(
        remaining.map(c => c._1 -> 0.0): _*)
      (1 to k).flatMap { r =>
        if (remaining.isEmpty) None
        else {
          val pick = remaining
            .map(c => (0.7 * c._2 - 0.3 * maxsim(c._1), c))
            .reduceLeft { (x, y) =>
              if (y._1 > x._1 || (y._1 == x._1 && y._2._1 < x._2._1)) y
              else x
            }
          remaining = remaining.filterNot(_._1 == pick._2._1)
          remaining.foreach { c =>
            val s = scos2(pick._2._3, c._3)
            if (s > maxsim(c._1)) maxsim(c._1) = s
          }
          Some((qid, r, pick._2._1, pick._1))
        }
      }
    }
    out.toDF("query_id", "sel_rank", "neighbor_id", "mmr")
      .orderBy("query_id", "sel_rank")
  }

  /** Mutual-nearest-neighbor pair mining between two embedding sets —
    * the alignment-mining operator behind bitext mining and image–text
    * pair construction (Artetxe & Schwenk 2019): emit (a, b) iff b is
    * a's top-1 in B AND a is b's top-1 in A. Mutuality is the cheap
    * high-precision filter (a one-directional top-1 pairs everything,
    * including garbage); the published runner-up scores (`a_second`,
    * `b_second`) are the margin signal — consumers threshold
    * best/second-best however they like without this operator baking in
    * a ratio (and without any division beyond exactScos2's single one).
    *
    * Determinism: all ranking is [[Embeddings.exactScos2]] over exact
    * int8-code integers (ties to the smaller id), so best/second values
    * are bit-identical in both engines.
    *
    * Scale: THIS form scores A×B exactly — the documented exact
    * baseline, parameter-bounded in the gated query (≤500×500 int8
    * pairs). The 100 TB path is the same mutual-top-1 over IVF-cell-
    * restricted candidates ([[ivfTopK]]'s cell join) or banded SRP
    * buckets ([[lshTopK]]), both already built: mutuality composes with
    * any candidate generator. Rank windows partition by a_id / b_id —
    * per-partition size is the OTHER side's candidate count, a
    * parameter, not the corpus.
    */
  def mnnPairs(a: DataFrame, b: DataFrame): DataFrame = {
    val qa = quantized(a, "a_id")
    val qb = quantized(b, "b_id")
    val scored = qa.select(col("a_id"), col("q").as("qa"))
      .crossJoin(broadcast(qb.select(col("b_id"), col("q").as("qb"))))
      .withColumn("dot", vecDot(col("qa"), col("qb")).cast("long"))
      .withColumn("na", vecDot(col("qa"), col("qa")).cast("long"))
      .withColumn("nb", vecDot(col("qb"), col("qb")).cast("long"))
      .withColumn("scos2",
        Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
      .select("a_id", "b_id", "dot", "na", "nb", "scos2")
    val wA = Window.partitionBy("a_id")
      .orderBy(col("scos2").desc, col("b_id"))
    val wB = Window.partitionBy("b_id")
      .orderBy(col("scos2").desc, col("a_id"))
    scored
      .withColumn("ra", row_number().over(wA))
      .withColumn("a_second", lead(col("scos2"), 1).over(wA))
      .withColumn("rb", row_number().over(wB))
      .withColumn("b_second", lead(col("scos2"), 1).over(wB))
      .filter(col("ra") === 1 && col("rb") === 1)
      .select(col("a_id"), col("b_id"), col("dot"), col("na"), col("nb"),
        col("scos2"), col("a_second"), col("b_second"))
      .orderBy("a_id")
  }

  /** Dimension-truncation recall panel — the Matryoshka-representation
    * eval (Kusupati et al. 2022) a pipeline runs before shipping
    * truncated embeddings: top-k by only the FIRST d code dimensions vs
    * the full-width exact top-k, recall@k per d. Quantifies how much
    * ANN quality a 4–8× storage/bandwidth cut costs on THIS corpus —
    * measured, not assumed (the ann_recall discipline).
    *
    * Determinism: all ranking is exact-integer scos2 over int8-code
    * PREFIXES (array slice, then the same codegen dot); a truncated
    * prefix can quantize to all-zero, so the score carries an explicit
    * na>0 ∧ nb>0 guard publishing 0 (no direction ⇒ orthogonal) — a
    * 0/0 NaN would be a cross-engine ordering seam (the q173 lesson).
    *
    * Scale: one broadcast-queries pass over the candidates per d (the
    * bruteForceTopK envelope, parameter-bounded queries); rank windows
    * partition by query.
    */
  def dimTruncationRecall(emb: DataFrame,
      dims: Seq[Int] = Seq(8, 16, 32, 48), k: Int = 5): DataFrame = {
    val qc = quantized(emb, "neighbor_id")
    val qq = quantized(emb.filter(col("vec_id") < 20).limit(20), "query_id")
    def g(dot: Column, na: Column, nb: Column): Column =
      when(na > 0 && nb > 0, Embeddings.exactScos2(dot, na, nb))
        .otherwise(lit(0.0))
    // ONE broadcast-queries pass scores every width: the per-width dot
    // products ride the same candidate scan as extra columns (5 widths
    // × 3 dots per row is the same arithmetic as 5 passes — minus 4
    // redundant scans/joins of the candidate table)
    val widths: Seq[(String, Option[Int])] =
      ("full", None) +: dims.map(d => (s"d$d", Some(d)))
    val scored = widths.foldLeft(
      broadcast(qq.select(col("query_id"), col("q").as("qa0")))
        .join(qc.select(col("neighbor_id"), col("q").as("qb0")),
          col("query_id") =!= col("neighbor_id"))) { case (df, (nm, d)) =>
      val qa = d.map(n => slice(col("qa0"), 1, n)).getOrElse(col("qa0"))
      val qb = d.map(n => slice(col("qb0"), 1, n)).getOrElse(col("qb0"))
      df.withColumn(s"scos2_$nm",
        g(vecDot(qa, qb).cast("long"), vecDot(qa, qa).cast("long"),
          vecDot(qb, qb).cast("long")))
    }.select(col("query_id") +: col("neighbor_id") +:
        widths.map { case (nm, _) => col(s"scos2_$nm") }: _*)
      .localCheckpoint(true) // reused by all 5 rank passes
    def top(nm: String): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col(s"scos2_$nm").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
    }
    val truth = top("full").localCheckpoint(true)
    val tot = truth.agg(count(lit(1)).as("total"))
    dims.map { d =>
      top(s"d$d")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("caught"))
        .select(lit(d).as("dims"), col("caught"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(tot))
      .select(col("dims"), col("caught"), col("total"),
        (col("caught").cast("double") / col("total").cast("double"))
          .as("recall"))
      .orderBy("dims")
  }

  /** Triplet hard-negative mining over a labeled embedding corpus — the
    * metric-learning data op (FaceNet / SBERT training batches): per
    * anchor, the hardest positive is its top-1 SAME-label neighbor and
    * the hardest negative its top-1 DIFFERENT-label neighbor, both by
    * [[Embeddings.exactScos2]] over exact int8 codes (ties to the
    * smaller id). `violation` = the negative scores at least as high as
    * the positive (a zero-margin triplet-loss violation — exactly the
    * triplets worth training on). Anchors lacking any same-label or
    * any different-label peer drop out (inner joins, mirrored in the
    * oracle).
    *
    * Scale: anchors are a parameter-bounded broadcast sample (the
    * bruteForceTopK envelope — one pass over the candidate corpus, no
    * candidate shuffle); rank windows partition by anchor. A full-
    * corpus mining run swaps the anchor sample for IVF-cell-bucketed
    * candidates, same as [[mnnPairs]].
    */
  def hardNegatives(emb: DataFrame, nAnchors: Int = 40): DataFrame = {
    // labels ride THROUGH the quantization (no join back — a join would
    // both add a shuffle and hide the anchor side's row bound from the
    // plan); the limit never binds (dense ids ⇒ ≤ nAnchors rows) but
    // proves that bound in-plan (the ann_bruteforce convention)
    def quantizedLabeled(df: DataFrame, idAs: String,
        labelAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("label").as(labelAs),
          asDouble(col("embedding")).as("v"))
        .withColumn("m", array_max(transform(col("v"), x => abs(x))))
        .filter(col("m") > 0.0)
        .select(col(idAs), col(labelAs),
          transform(col("v"), x => Embeddings.int8Code(x, col("m")))
            .as("q"))
    val anchors = quantizedLabeled(
      emb.filter(col("vec_id") < nAnchors).limit(nAnchors),
      "anchor_id", "a_label")
    val cands = quantizedLabeled(emb, "cand_id", "c_label")
    val scored = broadcast(anchors
        .select(col("anchor_id"), col("a_label"), col("q").as("qa")))
      .join(cands.select(col("cand_id"), col("c_label"),
          col("q").as("qc")),
        col("anchor_id") =!= col("cand_id"))
      .withColumn("dot", vecDot(col("qa"), col("qc")).cast("long"))
      .withColumn("na", vecDot(col("qa"), col("qa")).cast("long"))
      .withColumn("nb", vecDot(col("qc"), col("qc")).cast("long"))
      .withColumn("scos2",
        Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
      .select("anchor_id", "a_label", "cand_id", "c_label", "scos2")
    val wAnchor = Window.partitionBy("anchor_id")
      .orderBy(col("scos2").desc, col("cand_id"))
    val pos = scored.filter(col("c_label") === col("a_label"))
      .withColumn("rn", row_number().over(wAnchor))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("a_label").as("label"),
        col("cand_id").as("pos_id"), col("scos2").as("pos_scos2"))
    val neg = scored.filter(col("c_label") =!= col("a_label"))
      .withColumn("rn", row_number().over(wAnchor))
      .filter(col("rn") === 1)
      .select(col("anchor_id").as("n_anchor"),
        col("cand_id").as("neg_id"), col("scos2").as("neg_scos2"))
    pos.join(neg, col("anchor_id") === col("n_anchor"))
      .select(col("anchor_id"), col("label"), col("pos_id"),
        col("pos_scos2"), col("neg_id"), col("neg_scos2"),
        (col("neg_scos2") >= col("pos_scos2")).cast("int").as("violation"))
      .orderBy("anchor_id")
  }

  /** In-row nearest-centroid assignment: [[graft.functions.TopCentroids]],
    * a native codegen'd expression holding the k × dim centroid matrix as
    * ONE reference object. Round 5 expressed the same semantics as k
    * structs of dim-element `typedLit` columns — Catalyst analysis +
    * codegen of those trees cost ~3 s of fixed overhead per session
    * (measured: the kmeans collect job went 4.4 s cold / 1.3 s warm, and
    * ann_ivf sat at 5.3 s through two rewrites). Semantics are unchanged:
    * cosine ranking, ties to the lowest cent_id, zero-norm rows score
    * -2.0 (below every real cosine) instead of 0/0 = NaN. Still no
    * crossJoin, no window shuffle, and the driver holds k×dim parameters
    * only.
    */
  private def topCentroidIds(v: Column, cents: Seq[(Long, Seq[Double])],
                             n: Int): Column =
    graft.functions.vector.topCentroids(v, cents, n)

  /** Coarse-quantizer centroids: `k` deterministic seeds (lowest vec_ids)
    * refined by `iters` Lloyd iterations, with the centroids themselves
    * driver-resident between passes — k × dim doubles, bounded by the
    * PARAMETERS, never by the data (the same shape Spark MLlib's KMeans
    * uses; the per-iteration collect is k rows). Each iteration is ONE
    * distributed pass: in-row nearest-centroid assignment (native
    * [[graft.functions.TopCentroids]]) followed by a partial-agg
    * groupBy("cent_id") elementwise mean in ONE fixed-point buffer
    * ([[graft.functions.VecMicroMean]] — order-independent like the dim
    * separate decimal sums it replaces, without their ~1.7 s of one-time
    * aggregate-codegen cost at dim=64). The vector dimension comes from
    * the collected seed rows — no dedicated inference job.
    *
    * Precondition: all vectors share one dimension — both native
    * expressions throw on a mismatched vector (TopCentroids on any
    * centroid/vector length difference, VecMicroMean on any input not
    * exactly `dim` wide) rather than silently truncating or zero-filling.
    */
  private def centroidsLocal(candidates: DataFrame, k: Int,
                             iters: Int): Seq[(Long, Seq[Double])] = {
    import graft.functions.vector.vecMicroMean
    val v = candidates
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val seeds: Seq[(Long, Seq[Double])] = v.orderBy("vec_id").limit(k)
      .select("vec_id", "v").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    if (seeds.isEmpty) return Nil // empty candidate frame -> no cells
    val d = seeds.head._2.length
    var cents = seeds
    for (_ <- 0 until iters) {
      val assigned = v.select(
        element_at(topCentroidIds(col("v"), cents, 1), 1).as("cent_id"), col("v"))
      val recomputed = assigned.groupBy("cent_id")
        .agg(vecMicroMean(col("v"), d).as("m"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
        .toMap
      // a seed whose cluster came up empty keeps its seed vector — the
      // quantizer always has exactly k cells
      cents = seeds.map { case (cid, sv) => (cid, recomputed.getOrElse(cid, sv)) }
    }
    cents
  }

  /** [[centroidsLocal]] as a DataFrame (cent_id, centv) for callers that
    * want the quantizer itself.
    */
  def kmeansCentroids(candidates: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    centroidsLocal(candidates, k, iters).toDF("cent_id", "centv")
  }

  /** IVF (inverted-file) approximate top-k — the second ANN scale path.
    * Coarse quantizer: the `nCentroids` lowest-vec_id candidates' int8
    * codes (deterministic seeds, the same seeding [[kmeansCentroids]]
    * uses); every candidate is assigned to its nearest cell (one in-row
    * pass); a query probes its `nProbe` closest cells and ranks exactly
    * within those lists only. Per-query cost ~ N * nProbe / nCentroids;
    * recall measured in DedupSpec (0.85 at nProbe 4/16).
    *
    * The whole operator is engine-exact and hash-checks in DuckDB:
    * centroids are integer code vectors, so cell assignment compares
    * cos = dot/(√na·√nb) where dot/na/nb are EXACT int64 — three
    * correctly-rounded IEEE ops on exact inputs, bit-identical in every
    * engine (no FMA can contract a lone multiply or divide) — and final
    * ranking is [[Embeddings.exactScos2]]. Lloyd-refined FLOAT centroids
    * ([[kmeansCentroids]]) remain available for production tuning, but
    * their dot products sum arbitrary doubles in engine-dependent order,
    * which is exactly what an oracle-checkable operator must not do; on
    * the near-uniform test corpus refinement measured no recall change
    * (cell boundaries are irreducible there), so the gated path gives up
    * nothing. nProbe remains the direct recall/cost lever.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val qc = quantizedCandidates(candidates)
    val qq = quantized(queries, "query_id")
    // bounded collect: nCentroids × dim — the quantizer's parameters,
    // never the data (the same bound centroidsLocal's seed collect has)
    val cents: Seq[(Long, Seq[Double])] = qc
      .orderBy("neighbor_id").limit(nCentroids).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    require(cents.nonEmpty,
      "ivfTopK: candidate frame is empty — no quantizer cells to probe")

    // both assignment passes are in-row column math against the reference
    // centroid matrix (see topCentroidIds): the candidate side takes its
    // single nearest cell, the query side its nProbe nearest — no
    // crossJoin against a centroid table, no per-vector window shuffle
    val assigned = qc.withColumn("cent_id",
      element_at(topCentroidIds(col("q"), cents, 1), 1))
    val probed = broadcast(qq
      .select(col("query_id"), col("q").as("qa"),
        explode(topCentroidIds(col("q"), cents, nProbe)).as("cent_id")))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("scos2").desc, col("neighbor_id"))
    probed.join(assigned, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", vecDot(col("qa"), col("q")).cast("long"))
      .withColumn("na", vecDot(col("qa"), col("qa")).cast("long"))
      .withColumn("nb", vecDot(col("q"), col("q")).cast("long"))
      .withColumn("scos2", Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Product-quantization ADC top-k — the memory-bound ANN accelerator
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search").
    * The vector is split into `nSub` subspaces; each sub-vector is encoded
    * as its nearest codeword id from a per-subspace codebook of `nCodes`
    * entries, compressing a d-dim vector to nSub small ids (8 bytes here
    * vs 64 int8 components — and vs 256 float bytes raw). Asymmetric
    * distance computation (ADC) scores a pair as dot(query, RECONSTRUCTED
    * candidate): the query stays uncompressed, the candidate is its
    * codeword concatenation.
    *
    * Engine-exact by the same discipline as [[ivfTopK]]: codebooks are
    * the `nCodes` lowest-id candidates' int8 sub-vectors (deterministic
    * seeds, no Lloyd float drift), sub-assignment ranks by the portable
    * integer-code cosine with ties to the lowest codeword id (zero-norm
    * sub-vectors score -2.0 — the [[graft.functions.TopCentroids]]
    * kernel), and the ADC dot is exact int64. Every stage hash-matches
    * the DuckDB replay.
    *
    * Scale shape: encoding is in-row column math (nSub TopCentroids
    * calls against bounded literal codebooks, then a literal-matrix
    * lookup for reconstruction) — scan-stage, zero shuffle, driver holds
    * nSub × nCodes × (d/nSub) params. Scoring is a flat scan like
    * [[bruteForceTopK]] (PQ compresses memory and per-pair cost; it does
    * not prune candidates) — the production composition is PQ WITHIN
    * [[ivfTopK]] cells: IVF cuts the candidate list, ADC makes each
    * remaining comparison nSub adds against an 8-byte code.
    */
  /** PQ-encode `qc` (id, q) rows against codebooks built from `seeds`:
    * nearest codeword per subspace (in-row TopCentroids on sub-slices),
    * then literal-matrix reconstruction. Keeps every column of `qc` it is
    * given plus `recon` — shared by [[pqTopK]] and [[ivfPqTopK]] so the
    * encoding can never drift between the flat and the IVF-composed path.
    */
  private def pqEncode(qc: DataFrame, seeds: Seq[(Long, Seq[Double])],
                       nSub: Int): DataFrame = {
    val d = seeds.head._2.length
    require(d % nSub == 0, s"pqEncode: dim $d not divisible into $nSub subspaces")
    val sd = d / nSub
    val books: Seq[Seq[(Long, Seq[Double])]] = (0 until nSub).map { m =>
      seeds.map { case (id, v) => (id, v.slice(m * sd, (m + 1) * sd)) }
    }
    val codeCols = (0 until nSub).map { m =>
      element_at(topCentroidIds(slice(col("q"), m * sd + 1, sd), books(m), 1), 1)
        .as(s"c$m")
    }
    // reconstruction: codeword matrices as literal constants, indexed by
    // the code id's position in the (ascending) seed-id list
    val idArr = typedLit(seeds.map(_._1))
    val recon = concat((0 until nSub).map { m =>
      element_at(typedLit(books(m).map(_._2)),
        array_position(idArr, col(s"c$m")).cast("int"))
    }: _*)
    qc.select((qc.columns.map(col).toSeq ++ codeCols): _*)
      .withColumn("recon", recon)
      .drop((0 until nSub).map(m => s"c$m"): _*)
  }

  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
             nSub: Int = 8, nCodes: Int = 16): DataFrame = {
    val qc = quantizedCandidates(candidates)
    val qq = quantized(queries, "query_id")
    val seeds: Seq[(Long, Seq[Double])] = qc
      .orderBy("neighbor_id").limit(nCodes).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    require(seeds.nonEmpty, "pqTopK: candidate frame is empty")
    val encoded = pqEncode(qc, seeds, nSub).drop("q")
    val qb = broadcast(qq.select(col("query_id"), col("q").as("qa")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    encoded.join(qb, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", vecDot(col("qa"), col("recon")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF + PQ — the production ANN composition (faiss IndexIVFPQ):
    * [[ivfTopK]]'s coarse cells cut the candidate list to ~nProbe/nCells
    * of the corpus, and within the probed cells each comparison is
    * [[pqTopK]]'s ADC dot against an 8-byte code instead of the raw
    * vector. At 100 TB this is the only tractable shape: the index scan
    * is sub-linear AND memory-bandwidth-light; the flat variants exist as
    * the recall oracles for tuning nProbe/nCodes against.
    *
    * Same determinism discipline as both parents (shared seed list,
    * shared [[pqEncode]]); hash-checks against a DuckDB replay that
    * composes the ann_ivf and ann_pq oracle CTEs.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                nSub: Int = 8): DataFrame = {
    val qc = quantizedCandidates(candidates)
    val qq = quantized(queries, "query_id")
    val seeds: Seq[(Long, Seq[Double])] = qc
      .orderBy("neighbor_id").limit(nCentroids).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
    require(seeds.nonEmpty, "ivfPqTopK: candidate frame is empty")
    val encoded = pqEncode(
      qc.withColumn("cent_id",
        element_at(topCentroidIds(col("q"), seeds, 1), 1)),
      seeds, nSub).drop("q")
    val probed = broadcast(qq
      .select(col("query_id"), col("q").as("qa"),
        explode(topCentroidIds(col("q"), seeds, nProbe)).as("cent_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    probed.join(encoded, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", vecDot(col("qa"), col("recon")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009) —
    * the RAG-stack shape: a lexical BM25 ranking and a semantic
    * vector-cosine ranking over the same id space, fused by
    * RRF(d) = Σ_lists 1/(60 + rank_list(d)) with absent-from-list
    * contributing 0. RRF needs no score calibration between the two
    * retrievers (only ranks), which is exactly why production hybrid
    * search uses it.
    *
    * Determinism: both input rankings are already engine-portable
    * ([[graft.operators.TextAnalysis.bm25TopDocs]]'s cleared-fraction
    * scores; the exact-integer quantized cosine of
    * [[graft.operators.Embeddings.exactScos2]]); each RRF term is one
    * IEEE division 1.0/(60+r) of small exact ints and the two terms add
    * in fixed written order — hash-checkable end to end, unusual for a
    * fusion layer.
    *
    * Scale shape: each retriever produces a BOUNDED top-kEach list
    * (TakeOrdered); the fusion full-outer join and the re-rank windows
    * run on ≤ 2·kEach rows — driver-adjacent arithmetic, never
    * corpus-sized. The corpus-side costs are the retrievers' own
    * (documented on each).
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame,
                query: Seq[String] = Seq("spark", "join", "window"),
                queryVecId: Long = 0L, kEach: Int = 50,
                k: Int = 20): DataFrame = {
    import graft.operators.{Embeddings, TextAnalysis}
    val lex = TextAnalysis.bm25TopDocs(docs, query, kEach)
      .select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .as("r_lex"))
    val qv = Embeddings.nonZeroCodes(emb)
    val queryRow = broadcast(qv.filter(col("vec_id") === queryVecId)
      .limit(1) // plan-visible bound: vec_id is unique (see PlanAudit)
      .select(col("vec_id").as("qid"), col("q").as("qq")))
    val sem = qv.join(queryRow, col("vec_id") =!= col("qid"))
      .withColumn("dot", vecDot(col("qq"), col("q")).cast("long"))
      .withColumn("na", vecDot(col("qq"), col("qq")).cast("long"))
      .withColumn("nb", vecDot(col("q"), col("q")).cast("long"))
      .withColumn("scos2", Embeddings.exactScos2(col("dot"), col("na"), col("nb")))
      .orderBy(col("scos2").desc, col("vec_id")).limit(kEach)
      .select(col("vec_id").as("id"),
        row_number().over(Window.orderBy(col("scos2").desc, col("vec_id")))
          .as("r_sem"))
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"), col("r_lex"), col("r_sem"),
        (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id")).limit(k)
  }

  // --- driver-checked query surface ---

  /** The standard 20-query evaluation panel (lowest 20 vec_ids; the
    * limit makes the bound PLAN-VISIBLE — the ann_bruteforce convention
    * the roster audit keys on).
    */
  private def panelQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 20).limit(20)

  /** Panel top-k frames, memoized per (method, corpus lineage) — the
    * dd_sig/dd_pairs store discipline applied to the ANN family (r16):
    * SEVEN roster entries consume these five frames (each index entry
    * reads its own, ann_recall re-ranks all four approximate methods
    * against the brute-force truth, ann_mrr reads the same truth's
    * rank-1 slice), and before this each consumer re-built its index +
    * scoring pass from scratch — ann_recall alone re-ran all five.
    * Volume per frame is 20 queries × k=5 rows; the builds run once
    * under the timed `_build_ann_panel` bench entry so consumer figures
    * read marginal cost (the r13 attribution discipline).
    */
  private[graft] def panelTopK(method: String, e: DataFrame): DataFrame =
    Memo(s"ann_panel_$method", e) {
      val q = panelQueries(e)
      method match {
        case "bf"    => bruteForceTopK(q, e, k = 5)
        case "ivf"   => ivfTopK(q, e, k = 5)
        case "ivfpq" => ivfPqTopK(q, e, k = 5)
        case "lsh"   => lshTopK(q, e, k = 5)
        case "pq"    => pqTopK(q, e, k = 5)
        case other   => throw new IllegalArgumentException(
          s"unknown ann panel method: $other")
      }
    }

  private[graft] val PanelMethods = Seq("bf", "ivf", "ivfpq", "lsh", "pq")

  /** The ann family's shared in-session panel build (see [[panelTopK]]) —
    * forced by Bench under `_build_ann_panel` in dependency-free order.
    */
  private[graft] def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    Seq("ann_panel" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      PanelMethods.foreach(m => panelTopK(m, e).count())
    }))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_hybrid_rrf" -> ((s, d) =>
      hybridRrf(Tables.load(s, d, "documents"),
        Tables.load(s, d, "embeddings"))),
    "ann_bruteforce" -> ((s, d) =>
      panelTopK("bf", Tables.load(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // Approximate vs brute force (recall asserted in DedupSpec) but fully
    // DETERMINISTIC: integer-code bucketing + exact-integer re-ranking,
    // so both are hash-checked against a DuckDB replay of the same
    // bucket/cell assignment, not merely rows-checked.
    "ann_lsh" -> ((s, d) =>
      panelTopK("lsh", Tables.load(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "ann_ivf" -> ((s, d) =>
      panelTopK("ivf", Tables.load(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "ann_pq" -> ((s, d) =>
      panelTopK("pq", Tables.load(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "ann_ivfpq" -> ((s, d) =>
      panelTopK("ivfpq", Tables.load(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "ann_mmr" -> ((s, d) =>
      mmrTopK(Tables.load(s, d, "embeddings"))),
    // even vec_ids play modality A, odd play modality B — a synthetic
    // split (the corpus has one embedding space); the operator itself is
    // the real surface, and the A×B demo is parameter-bounded to
    // ≤500×500 int8 pairs
    "ann_mnn" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      // limit(500) never binds (dense ids: < 1000 ∧ parity ⇒ ≤ 500 rows)
      // but makes the broadcast side's bound PLAN-PROVED (GlobalLimit) —
      // the ann_bruteforce convention the roster audit keys on
      mnnPairs(
        e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 1000)
          .limit(500),
        e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 1000)
          .limit(500))
    }),
    "ann_hard_negatives" -> ((s, d) =>
      hardNegatives(Tables.load(s, d, "embeddings"))),
    "ann_dim_truncation" -> ((s, d) =>
      dimTruncationRecall(Tables.load(s, d, "embeddings"))),
    // Recall@5 of every approximate index vs the exact brute force —
    // the quality claim the DedupSpec recall floors assert, made
    // DRIVER-VISIBLE and hash-gated: all five methods are
    // deterministic (integer-code bucketing + exact re-rank), so the
    // caught-neighbor counts and the single-division recalls are exact
    // reproducible numbers, not a statistical assertion. The evaluation
    // a 100 TB deployment runs on a query sample before trusting an
    // index.
    "ann_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      // all five frames read the memoized panel store (already
      // checkpointed there — no per-entry re-rank of any method)
      val bf = panelTopK("bf", e)
        .select(col("query_id"), col("neighbor_id"))
      val methods = Seq(
        "ivf" -> panelTopK("ivf", e),
        "ivfpq" -> panelTopK("ivfpq", e),
        "lsh" -> panelTopK("lsh", e),
        "pq" -> panelTopK("pq", e))
      val tot = bf.agg(count(lit(1)).as("total"))
      methods.map { case (name, m) =>
        m.select(col("query_id"), col("neighbor_id"))
          .join(bf, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("caught"))
          .select(lit(name).as("method"), col("caught"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("method"), col("caught"), col("total"),
          (col("caught").cast("double") / col("total").cast("double"))
            .as("recall"))
        .orderBy("method")
    }),
    // Mean reciprocal rank over the same panel — the RANK-SENSITIVE eval
    // recall can't express (a method that always buries the true nearest
    // neighbor at rank 5 has recall 1 but MRR 0.2): the truth is the
    // brute-force TOP-1 per query, each method contributes ⌊10¹²/rank⌋
    // where it ranks that neighbor (0 where it misses — harmonic's
    // unreachable-term convention), and MRR is one integral division of
    // the exact sum by the query count. Long-safe to ~9·10⁶ queries
    // (the panel is 20); the division floor matches // in the oracle.
    "ann_mrr" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
      // the brute-force top-1 is the rank-1 slice of the memoized top-5
      // panel frame (identical rows: one row_number window, same order)
      val truth = panelTopK("bf", e).filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"))
      val nq = graft.tools.Scalar.scalarRow(
        truth.agg(count(lit(1)).as("n_queries")))
      val methods = Seq(
        "ivf" -> panelTopK("ivf", e),
        "ivfpq" -> panelTopK("ivfpq", e),
        "lsh" -> panelTopK("lsh", e),
        "pq" -> panelTopK("pq", e))
      methods.map { case (name, m) =>
        // truth is one row per query, so the inner join keeps at most
        // one (query, rank) row per query — the reciprocal-rank terms
        m.join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("found"),
            coalesce(sum(expr("1000000000000 div rank")), lit(0L))
              .as("rr_sum_pico"))
          .select(lit(name).as("method"), col("found"), col("rr_sum_pico"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(nq))
        .select(col("method"), col("n_queries"), col("found"),
          col("rr_sum_pico"),
          expr("rr_sum_pico div n_queries").as("mrr_pico"))
        .orderBy("method")
    }),
  )

  /** Shared oracle prelude: int8 quantization (the [[Embeddings
    * .int8Code]] half-up formula, zero vectors dropped) — identical to
    * the dd_semdedup oracle's `qq` stage.
    */
  private val QQ =
    """qq AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS DOUBLE)) AS q
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
      |                                  x -> abs(x))) AS m
      |        FROM embeddings) WHERE m > 0)""".stripMargin

  /** Exact-integer signed squared cosine — the SQL twin of
    * [[Embeddings.exactScos2]].
    */
  // mirrors Embeddings.exactScos2 including its zero-norm −2.0 sentinel
  private val SCOS2 =
    """CASE WHEN na * nb = 0 THEN -2.0 ELSE
      |      CAST(CASE WHEN dot < 0 THEN -(dot * dot) ELSE dot * dot END AS DOUBLE)
      |      / CAST(na * nb AS DOUBLE) END""".stripMargin

  /** Portable cosine for integer code vectors: dot/na/nb are exact int64,
    * so sqrt/multiply/divide are three correctly-rounded IEEE ops on exact
    * inputs — bit-identical to the [[graft.functions.VectorOps
    * .topCentroids]] kernel's `t / (vn * cn)`.
    */
  private def intCos(dot: String, na: String, nb: String): String =
    s"CAST($dot AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  def oracle: Map[String, String] = {
    val base: Map[String, String] = Map(
    // lexical CTEs shared verbatim with ta_bm25 (bm25OracleCtes); the
    // semantic side is the emb_knn_label scored shape with one query
    "ann_hybrid_rrf" ->
      s"""WITH ${graft.operators.TextAnalysis.bm25OracleCtes},
         |lex AS (
         |  SELECT doc_id AS id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
         |      AS r_lex
         |  FROM lexall ORDER BY score DESC, doc_id LIMIT 50),
         |$QQ,
         |semall AS (
         |  SELECT c.vec_id AS cid,
         |    CAST(CASE WHEN dot < 0 THEN -(dot * dot) ELSE dot * dot END
         |         AS DOUBLE) / CAST(na * nb AS DOUBLE) AS scos2
         |  FROM (SELECT c.vec_id,
         |          CAST(list_dot_product(q.q, c.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(q.q, q.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(c.q, c.q) AS BIGINT) AS nb
         |        FROM qq q JOIN qq c ON q.vec_id = 0 AND c.vec_id <> 0) c),
         |sem AS (
         |  SELECT cid AS id,
         |    CAST(row_number() OVER (ORDER BY scos2 DESC, cid) AS INTEGER)
         |      AS r_sem
         |  FROM semall ORDER BY scos2 DESC, cid LIMIT 50)
         |SELECT id, r_lex, r_sem,
         |  coalesce(CAST(1 AS DOUBLE) / (60 + r_lex), CAST(0 AS DOUBLE))
         |  + coalesce(CAST(1 AS DOUBLE) / (60 + r_sem), CAST(0 AS DOUBLE))
         |    AS rrf
         |FROM lex FULL JOIN sem USING (id)
         |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,
    // ann_dim_truncation: per-d top-5 on code PREFIXES (list slices)
    // vs the full-width truth, the guarded (na>0 ∧ nb>0) scos2, and
    // recall as one IEEE division of exact counts
    "ann_dim_truncation" -> {
      def top(name: String, d: Option[Int]): String = {
        val qs = d.map(n => s"q.q[1:$n]").getOrElse("q.q")
        val cs = d.map(n => s"c.q[1:$n]").getOrElse("c.q")
        s"""$name AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY
           |        CASE WHEN na > 0 AND nb > 0 THEN
           |          CAST(CASE WHEN dot < 0 THEN -(dot * dot)
           |               ELSE dot * dot END AS DOUBLE)
           |            / CAST(na * nb AS DOUBLE)
           |        ELSE 0.0 END DESC, neighbor_id) AS rnk
           |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |            CAST(list_dot_product($qs, $cs) AS BIGINT) AS dot,
           |            CAST(list_dot_product($qs, $qs) AS BIGINT) AS na,
           |            CAST(list_dot_product($cs, $cs) AS BIGINT) AS nb
           |          FROM qq q JOIN qq c
           |            ON q.vec_id < 20 AND c.vec_id <> q.vec_id))
           |  WHERE rnk <= 5)""".stripMargin
      }
      val dims = Seq(8, 16, 32, 48)
      s"""WITH $QQ,
         |${top("tr", None)},
         |${dims.map(d => top(s"m$d", Some(d))).mkString(",\n")},
         |tot AS (SELECT count(*) AS total FROM tr)
         |SELECT dims, caught, total,
         |  CAST(caught AS DOUBLE) / CAST(total AS DOUBLE) AS recall
         |FROM (
         |${dims.map(d =>
            s"  SELECT $d AS dims, (SELECT count(*) FROM m$d " +
              "JOIN tr USING (query_id, neighbor_id)) AS caught")
            .mkString("\n  UNION ALL\n")}
         |) x, tot
         |ORDER BY dims""".stripMargin
    },
    // ann_mnn: the identical A×B exact-scos2 grid, both-direction rank-1
    // with lead() runner-ups, ties to the smaller id
    "ann_mnn" ->
      s"""WITH $QQ,
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
         |    CAST(list_dot_product(a.q, a.q) AS BIGINT) AS na,
         |    CAST(list_dot_product(b.q, b.q) AS BIGINT) AS nb
         |  FROM qq a JOIN qq b
         |    ON a.vec_id % 2 = 0 AND a.vec_id < 1000
         |    AND b.vec_id % 2 = 1 AND b.vec_id < 1000),
         |sc AS (SELECT *, $SCOS2 AS scos2 FROM pairs),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY a_id
         |      ORDER BY scos2 DESC, b_id) AS ra,
         |    lead(scos2) OVER (PARTITION BY a_id
         |      ORDER BY scos2 DESC, b_id) AS a_second,
         |    row_number() OVER (PARTITION BY b_id
         |      ORDER BY scos2 DESC, a_id) AS rb,
         |    lead(scos2) OVER (PARTITION BY b_id
         |      ORDER BY scos2 DESC, a_id) AS b_second
         |  FROM sc)
         |SELECT a_id, b_id, dot, na, nb, scos2, a_second, b_second
         |FROM r WHERE ra = 1 AND rb = 1 ORDER BY a_id""".stripMargin,
    // ann_hard_negatives: same anchor×corpus exact-scos2 scoring, rank-1
    // within same-label / different-label strata, zero-margin violation
    "ann_hard_negatives" ->
      s"""WITH $QQ,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |sc AS (
         |  SELECT p.vec_id AS anchor_id, la.label AS a_label,
         |    p.cid AS cand_id, lc.label AS c_label,
         |    $SCOS2 AS scos2
         |  FROM (SELECT a.vec_id, c.vec_id AS cid,
         |          CAST(list_dot_product(a.q, c.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(a.q, a.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(c.q, c.q) AS BIGINT) AS nb
         |        FROM qq a JOIN qq c
         |          ON a.vec_id < 40 AND c.vec_id <> a.vec_id) p
         |  JOIN lab la ON la.vec_id = p.vec_id
         |  JOIN lab lc ON lc.vec_id = p.cid),
         |pos AS (SELECT anchor_id, a_label AS label, cand_id AS pos_id,
         |    scos2 AS pos_scos2
         |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |          ORDER BY scos2 DESC, cand_id) AS rn
         |        FROM sc WHERE c_label = a_label) WHERE rn = 1),
         |neg AS (SELECT anchor_id, cand_id AS neg_id, scos2 AS neg_scos2
         |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |          ORDER BY scos2 DESC, cand_id) AS rn
         |        FROM sc WHERE c_label <> a_label) WHERE rn = 1)
         |SELECT pos.anchor_id, pos.label, pos.pos_id, pos.pos_scos2,
         |  neg.neg_id, neg.neg_scos2,
         |  CAST(neg.neg_scos2 >= pos.pos_scos2 AS INTEGER) AS violation
         |FROM pos JOIN neg ON neg.anchor_id = pos.anchor_id
         |ORDER BY pos.anchor_id""".stripMargin,
    "ann_bruteforce" ->
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // replays lshTopK exactly: same md5-parity planes over the same int8
    // codes (strict > 0 bucket bits), hamming-1 multi-probe on the query
    // side, exact-scos2 re-rank with ties to the lowest neighbor_id
    "ann_lsh" ->
      s"""WITH $QQ,
         |dims AS (SELECT DISTINCT generate_subscripts(embedding, 1) AS d
         |         FROM embeddings),
         |planes AS (
         |  SELECT t, b, d,
         |    CASE WHEN CAST(concat('0x',
         |           substr(md5(t || ',' || b || ',' || (d - 1)), 1, 15)) AS BIGINT)
         |         % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
         |  FROM range(0, 8) rt(t), range(0, 4) rb(b), dims),
         |proj AS (SELECT vec_id, t, b, sum(s * q[d]) AS dotp
         |         FROM qq, planes GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, t,
         |            CAST(sum(CASE WHEN dotp > 0 THEN 1 << b ELSE 0 END) AS BIGINT)
         |              AS bucket
         |          FROM proj GROUP BY 1, 2),
         |qprobe AS (
         |  SELECT vec_id, t, bucket FROM codes WHERE vec_id < 20
         |  UNION ALL
         |  SELECT c.vec_id, c.t, xor(c.bucket, CAST(1 << rb.b AS BIGINT)) AS bucket
         |  FROM codes c, range(0, 4) rb(b) WHERE c.vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM qprobe p JOIN codes c ON c.t = p.t AND c.bucket = p.bucket
         |  WHERE c.vec_id <> p.vec_id),
         |scored AS (
         |  SELECT query_id, neighbor_id, $SCOS2 AS scos2
         |  FROM (SELECT cand.query_id, cand.neighbor_id,
         |          CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(qa.q, qa.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(qb.q, qb.q) AS BIGINT) AS nb
         |        FROM cand
         |        JOIN qq qa ON qa.vec_id = cand.query_id
         |        JOIN qq qb ON qb.vec_id = cand.neighbor_id))
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY scos2 DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // replays ivfTopK exactly: seed cells = 16 lowest surviving vec_ids'
    // codes, assignment/probing by the portable integer-code cosine with
    // ties to the lowest cent_id, exact-scos2 re-rank within probed cells
    "ann_ivf" ->
      s"""WITH $QQ,
         |cents AS (SELECT vec_id AS cent_id, q FROM qq ORDER BY vec_id LIMIT 16),
         |sim AS (
         |  SELECT v.vec_id, c.cent_id,
         |    ${intCos("list_dot_product(v.q, c.q)",
                       "list_dot_product(v.q, v.q)",
                       "list_dot_product(c.q, c.q)")} AS cos
         |  FROM qq v, cents c),
         |ranked AS (
         |  SELECT vec_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id) AS rn
         |  FROM sim),
         |assigned AS (SELECT vec_id AS neighbor_id, cent_id FROM ranked
         |             WHERE rn = 1),
         |qprobe AS (SELECT vec_id AS query_id, cent_id FROM ranked
         |           WHERE vec_id < 20 AND rn <= 4),
         |scored AS (
         |  SELECT query_id, neighbor_id, $SCOS2 AS scos2
         |  FROM (SELECT p.query_id, a.neighbor_id,
         |          CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(qa.q, qa.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(qb.q, qb.q) AS BIGINT) AS nb
         |        FROM qprobe p JOIN assigned a USING (cent_id)
         |        JOIN qq qa ON qa.vec_id = p.query_id
         |        JOIN qq qb ON qb.vec_id = a.neighbor_id
         |        WHERE p.query_id <> a.neighbor_id))
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY scos2 DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // replays pqTopK exactly: codebooks = 16 lowest surviving vec_ids'
    // int8 sub-vectors (8 subspaces × 8 dims), sub-assignment by the
    // portable integer-code cosine (zero-norm -> -2.0, ties to lowest
    // codeword id), reconstruction by codeword concatenation, exact-int
    // ADC dot with ties to the lowest neighbor_id
    "ann_pq" -> {
      val vs = "v.q[rm.m*8+1 : rm.m*8+8]"
      val cs = "c.q[rm.m*8+1 : rm.m*8+8]"
      s"""WITH $QQ,
         |cents AS (SELECT vec_id AS cent_id, q FROM qq ORDER BY vec_id LIMIT 16),
         |subsim AS (
         |  SELECT v.vec_id, rm.m, c.cent_id,
         |    CASE WHEN list_dot_product($vs, $vs) = 0
         |           OR list_dot_product($cs, $cs) = 0 THEN -2.0
         |         ELSE ${intCos(s"list_dot_product($vs, $cs)",
                                 s"list_dot_product($vs, $vs)",
                                 s"list_dot_product($cs, $cs)")}
         |    END AS cos
         |  FROM qq v, range(0, 8) rm(m), cents c),
         |codes AS (
         |  SELECT vec_id, m, cent_id FROM (
         |    SELECT vec_id, m, cent_id, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY cos DESC, cent_id) AS rn
         |    FROM subsim) WHERE rn = 1),
         |recon AS (
         |  SELECT codes.vec_id,
         |    flatten(list(c.q[codes.m*8+1 : codes.m*8+8] ORDER BY codes.m)) AS r
         |  FROM codes JOIN cents c ON c.cent_id = codes.cent_id
         |  GROUP BY codes.vec_id),
         |scored AS (
         |  SELECT qa.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    CAST(list_dot_product(qa.q, r.r) AS BIGINT) AS adc
         |  FROM qq qa, recon r
         |  WHERE qa.vec_id < 20 AND r.vec_id <> qa.vec_id)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // replays ivfPqTopK: the ann_ivf cell CTEs (assignment + probing)
    // composed with the ann_pq code/reconstruction CTEs — candidates come
    // from probed cells, scoring is the exact-int ADC dot
    "ann_ivfpq" -> {
      val vs = "v.q[rm.m*8+1 : rm.m*8+8]"
      val cs = "c.q[rm.m*8+1 : rm.m*8+8]"
      s"""WITH $QQ,
         |cents AS (SELECT vec_id AS cent_id, q FROM qq ORDER BY vec_id LIMIT 16),
         |sim AS (
         |  SELECT v.vec_id, c.cent_id,
         |    ${intCos("list_dot_product(v.q, c.q)",
                       "list_dot_product(v.q, v.q)",
                       "list_dot_product(c.q, c.q)")} AS cos
         |  FROM qq v, cents c),
         |ranked AS (
         |  SELECT vec_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id) AS rn
         |  FROM sim),
         |assigned AS (SELECT vec_id AS neighbor_id, cent_id FROM ranked
         |             WHERE rn = 1),
         |qprobe AS (SELECT vec_id AS query_id, cent_id FROM ranked
         |           WHERE vec_id < 20 AND rn <= 4),
         |subsim AS (
         |  SELECT v.vec_id, rm.m, c.cent_id,
         |    CASE WHEN list_dot_product($vs, $vs) = 0
         |           OR list_dot_product($cs, $cs) = 0 THEN -2.0
         |         ELSE ${intCos(s"list_dot_product($vs, $cs)",
                                 s"list_dot_product($vs, $vs)",
                                 s"list_dot_product($cs, $cs)")}
         |    END AS cos
         |  FROM qq v, range(0, 8) rm(m), cents c),
         |codes AS (
         |  SELECT vec_id, m, cent_id FROM (
         |    SELECT vec_id, m, cent_id, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY cos DESC, cent_id) AS rn
         |    FROM subsim) WHERE rn = 1),
         |recon AS (
         |  SELECT codes.vec_id,
         |    flatten(list(c.q[codes.m*8+1 : codes.m*8+8] ORDER BY codes.m)) AS r
         |  FROM codes JOIN cents c ON c.cent_id = codes.cent_id
         |  GROUP BY codes.vec_id),
         |scored AS (
         |  SELECT p.query_id, a.neighbor_id,
         |    CAST(list_dot_product(qa.q, r.r) AS BIGINT) AS adc
         |  FROM qprobe p JOIN assigned a USING (cent_id)
         |  JOIN recon r ON r.vec_id = a.neighbor_id
         |  JOIN qq qa ON qa.vec_id = p.query_id
         |  WHERE p.query_id <> a.neighbor_id)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // the greedy MMR loop as 8 chained pick/update CTE pairs over the
    // exact top-24 pool — identical λ-arithmetic and tie rules
    "ann_mmr" -> {
      val steps = (1 to 8).map { j =>
        s"""p$j AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY mmr DESC, neighbor_id) AS rn
           |  FROM (SELECT *, CAST('0.7' AS DOUBLE) * rel
           |          - CAST('0.3' AS DOUBLE) * maxsim AS mmr FROM s${j - 1})),
           |sel$j AS (SELECT query_id, neighbor_id, mmr FROM p$j WHERE rn = 1),
           |s$j AS (
           |  SELECT s.query_id, s.neighbor_id, s.rel,
           |    greatest(s.maxsim, coalesce(ps.sim, CAST('-2' AS DOUBLE)))
           |      AS maxsim
           |  FROM s${j - 1} s
           |  JOIN sel$j t ON s.query_id = t.query_id
           |    AND s.neighbor_id <> t.neighbor_id
           |  LEFT JOIN ps ON ps.query_id = s.query_id
           |    AND ps.a = t.neighbor_id AND ps.b = s.neighbor_id)"""
          .stripMargin
      }.mkString(",\n")
      val finalSel = (1 to 8).map(j =>
        s"SELECT query_id, CAST($j AS INTEGER) AS sel_rank, neighbor_id, " +
          s"mmr FROM sel$j").mkString("\nUNION ALL\n")
      s"""WITH $QQ,
         |qs AS (SELECT vec_id AS query_id, q FROM qq WHERE vec_id < 8),
         |relall AS (
         |  SELECT query_id, neighbor_id, $SCOS2 AS rel
         |  FROM (SELECT qs.query_id, c.vec_id AS neighbor_id,
         |          CAST(list_dot_product(qs.q, c.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(qs.q, qs.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(c.q, c.q) AS BIGINT) AS nb
         |        FROM qs JOIN qq c ON c.vec_id <> qs.query_id)),
         |cand AS (SELECT query_id, neighbor_id, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, neighbor_id) AS rank FROM relall)
         |  WHERE rank <= 24),
         |ps AS (
         |  SELECT query_id, a, b, $SCOS2 AS sim
         |  FROM (SELECT a.query_id, a.neighbor_id AS a, b.neighbor_id AS b,
         |          CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot,
         |          CAST(list_dot_product(qa.q, qa.q) AS BIGINT) AS na,
         |          CAST(list_dot_product(qb.q, qb.q) AS BIGINT) AS nb
         |        FROM cand a
         |        JOIN cand b ON b.query_id = a.query_id
         |          AND b.neighbor_id <> a.neighbor_id
         |        JOIN qq qa ON qa.vec_id = a.neighbor_id
         |        JOIN qq qb ON qb.vec_id = b.neighbor_id)),
         |s0 AS (SELECT query_id, neighbor_id, rel,
         |         CAST('0' AS DOUBLE) AS maxsim FROM cand),
         |$steps
         |$finalSel
         |ORDER BY query_id, sel_rank""".stripMargin
    },
    )
    // ann_recall: every component oracle embedded as a derived table
    // (nested WITH is scoped to its subquery), semi-joined against the
    // brute-force truth; one division per method
    base + ("ann_recall" -> {
      def sub(n: String) = "(" + base(n) + ")"
      s"""WITH bf AS ${sub("ann_bruteforce")},
         |tot AS (SELECT count(*) AS total FROM bf)
         |SELECT method, caught, total,
         |  CAST(caught AS DOUBLE) / CAST(total AS DOUBLE) AS recall
         |FROM (
         |  SELECT 'ivf' AS method, (SELECT count(*) FROM ${sub("ann_ivf")} m
         |    JOIN bf ON bf.query_id = m.query_id
         |     AND bf.neighbor_id = m.neighbor_id) AS caught
         |  UNION ALL
         |  SELECT 'ivfpq', (SELECT count(*) FROM ${sub("ann_ivfpq")} m
         |    JOIN bf ON bf.query_id = m.query_id
         |     AND bf.neighbor_id = m.neighbor_id)
         |  UNION ALL
         |  SELECT 'lsh', (SELECT count(*) FROM ${sub("ann_lsh")} m
         |    JOIN bf ON bf.query_id = m.query_id
         |     AND bf.neighbor_id = m.neighbor_id)
         |  UNION ALL
         |  SELECT 'pq', (SELECT count(*) FROM ${sub("ann_pq")} m
         |    JOIN bf ON bf.query_id = m.query_id
         |     AND bf.neighbor_id = m.neighbor_id)), tot
         |ORDER BY method""".stripMargin
    }) + ("ann_mrr" -> {
      def sub(n: String) = "(" + base(n) + ")"
      def arm(name: String, key: String) =
        s"""  SELECT '$name' AS method,
           |    (SELECT count(*) FROM ${sub(key)} m JOIN t1
           |       ON t1.query_id = m.query_id
           |      AND t1.neighbor_id = m.neighbor_id) AS found,
           |    (SELECT CAST(coalesce(sum(1000000000000 // m.rank), 0)
           |            AS BIGINT) FROM ${sub(key)} m JOIN t1
           |       ON t1.query_id = m.query_id
           |      AND t1.neighbor_id = m.neighbor_id) AS rr_sum_pico"""
          .stripMargin
      // the truth is rank 1 of the shared brute-force oracle; each arm's
      // scalar subqueries see at most one matching row per query
      s"""WITH t1 AS (SELECT query_id, neighbor_id
         |            FROM ${sub("ann_bruteforce")} WHERE rank = 1),
         |nq AS (SELECT count(*) AS n_queries FROM t1)
         |SELECT method, n_queries, found, rr_sum_pico,
         |  CAST(rr_sum_pico // n_queries AS BIGINT) AS mrr_pico
         |FROM (
         |${Seq("ivf" -> "ann_ivf", "ivfpq" -> "ann_ivfpq",
                "lsh" -> "ann_lsh", "pq" -> "ann_pq")
            .map { case (n, k) => arm(n, k) }
            .mkString("\nUNION ALL\n")}), nq
         |ORDER BY method""".stripMargin
    })
  }
}
