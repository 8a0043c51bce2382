package graft.operators

import graft.functions.{GopherCounts, LetterTokens}
import graft.functions.hashes.portableHash60
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token statistics,
  * quality scoring, language-ID heuristic, document fingerprinting. All are
  * column expressions over a `text` column (no UDFs), so they scale
  * embarrassingly: no shuffle at all — every score is computed in the scan
  * stage. Not all of it is compiled, though:
  *  - the tokenizer [[tokens]], the [[gopherRules]] counts (and Dedup's
  *    MinHash signature) are codegen'd kernels in `graft.functions` — one
  *    generated loop per row;
  *  - the per-token statistics built from `filter`, `transform` and
  *    `aggregate` lambdas are higher-order functions, which Spark 4.1.2
  *    evaluates interpreted (`CodegenFallback`): one lambda call per array
  *    element.
  *
  * No reference counterpart (SURVEY §2c: the reference's only text
  * operation is the wc/indexer tokenizer); these are the north-star
  * LLM-pipeline operators.
  */
object TextAnalysis {

  /** Tokens of `c` split on non-letter runs, empties dropped — same
    * semantics as the reference tokenizer (Go FieldsFunc(!IsLetter),
    * src/mrapps/wc.go:21-24) and as `filter(split(c, "[^\\p{L}]+"),
    * x => length(x) > 0)`, as the codegen'd [[graft.functions.LetterTokens]]
    * kernel (the loop the MrApp tokenizer runs too).
    */
  def tokens(c: Column): Column =
    GraftShims.column(LetterTokens(GraftShims.expression(c)))

  /** Per-document token statistics. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.withColumn("w", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_unique"),
        length(col("text")).as("n_chars_obs"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality scores: mean token length, stopword ratio, type-token ratio,
    * whitespace ratio — the usual cheap text-quality filters. All ratios
    * are double divisions of exact ints (bit-identical across engines).
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) > 0)
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        (aggregate(col("w"), lit(0), (acc, x) => acc + length(x)).cast("double")
          / size(col("w"))).as("mean_tok_len"),
        (size(filter(col("w"), x => array_contains(sw, x))).cast("double")
          / size(col("w"))).as("stopword_ratio"),
        (size(array_distinct(col("w"))).cast("double") / size(col("w"))).as("ttr"),
        ((length(col("text")) - length(regexp_replace(col("text"), " ", "")))
          .cast("double") / length(col("text"))).as("space_ratio"))
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "fr" -> Seq("le", "la", "les", "et", "ne"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  /** Language-ID heuristic: stopword-marker voting with a fixed precedence
    * tiebreak (alphabetical). A real pipeline would use fastText/CLD3; the
    * operator shape — per-doc scores + deterministic argmax, no shuffle —
    * is what matters at 100 TB.
    */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.withColumn("w", tokens(lower(col("text"))))
      .select(
        col("doc_id") +: col("lang").as("lang_actual") +:
          markers.map { case (l, ms) =>
            size(filter(col("w"), x => array_contains(array(ms.map(lit): _*), x)))
              .as(s"s_$l")
          }: _*)
    val best = markers.map { case (l, _) => col(s"s_$l") }.reduce(greatest(_, _))
    // alphabetical precedence on ties: first lang reaching the max wins
    val pred = markers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best, lit(l)).otherwise(acc)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Document fingerprints: md5 of whitespace-normalized lowercased text
    * (the OpenWebText-style exact-dedup key) + a 60-bit integer form for
    * compact joins (engine-portable, see
    * [[graft.functions.hashes.portableHash60]]).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val normalized = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    docs.select(
      col("doc_id"),
      md5(normalized).as("fp_md5"),
      portableHash60(normalized).as("fp60"))
  }

  // --- driver-checked query surface ---

  /** BPE-ish pre-tokenizer count: the GPT-2 pretokenizer pattern minus its
    * lookahead clauses (RE2, and therefore the oracle, has no lookahead) —
    * letter runs, digit runs, punctuation runs, whitespace runs, each with
    * an optional leading space. A real pipeline follows this with merges;
    * the pretokenizer count is the standard cheap length estimate.
    */
  private val bpeIsh = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(bpeIsh)).cast("int").as("n_bpe_tokens"),
      size(tokens(col("text"))).as("n_word_tokens"))

  // BPE state encoding: each symbol wrapped in U+001F sentinels
  // (writing U+001F as ␟: "he" → "␟h␟␟e␟"), so a merge (a, b) is ONE string
  // replace of "␟a␟␟b␟" with "␟ab␟". With both halves fully wrapped, an
  // all-occurrence left-to-right replace consumes exactly two symbols per
  // match and resumes at the next complete wrapper — bit-identical to the
  // greedy non-overlapping array merge ("aaaa" + (a,a) → [aa, aa], not
  // [aa, a, a]), and `replace` has those semantics in BOTH engines
  // (verified against DuckDB). U+001F cannot appear in tokens (tokens are
  // letter runs).
  private val SEP = "\u001f"

  /** BPE vocabulary induction — the fixed-iteration merge loop missing
    * from [[bpeTokenCounts]] (which only counts pre-tokenizer pieces):
    * start from characters, repeatedly merge the corpus-weighted most
    * frequent adjacent symbol pair (ties broken on the pair strings, so
    * the learned vocabulary is deterministic), and emit the merge table —
    * rank, the two sides, the merged symbol, and the pair's corpus count.
    *
    * Scale shape: the corpus is collapsed ONCE to (distinct word, freq) —
    * vocabulary-sized, persisted across iterations, never collected — and
    * each merge iteration is one pair-count groupBy (map-side combined;
    * pairs of a word stay in its row until the explode) followed by a
    * 1-ROW argmax collect; driver state is the merge table itself, bounded
    * by `nMerges`, never the data. This is the same
    * distributed-loop-with-parameter-sized-collect shape as the k-means
    * quantizer ([[Similarity]]) — the standard Spark formulation of an
    * iterative fit.
    *
    * 100 TB note: the loop is SEQUENTIAL by definition (merge k+1's pair
    * counts depend on merge k's rewrite), so wall time is nMerges × one
    * distributed groupBy over the DISTINCT-WORD table — and that table,
    * not the corpus, is the per-iteration input: natural-language
    * vocabulary grows ~O(corpus^0.5) (Heaps' law), so the iteration cost
    * barely moves with corpus size. A production tokenizer train with
    * nMerges in the tens of thousands additionally (a) samples the
    * corpus first (the word-frequency RANKING, which is all BPE reads,
    * is stable under sampling — this estimator exists here as
    * [[graft.operators.Dedup.dupRateEstimate]]'s content-keyed sample
    * pattern) and (b) batches compatible merges per round; both are
    * deliberately out of scope for an 8-merge exact-oracle contract
    * where each iteration must match DuckDB bit-for-bit.
    */
  def bpeVocab(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit(SEP), array_join(split(col("word"), ""), SEP + SEP),
        lit(SEP)).as("state"), col("freq"))
      .persist()
    try {
      var state: Column = col("state")
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var rank = 1
      var exhausted = false
      while (rank <= nMerges && !exhausted) {
        val syms = split(trim(state, SEP), SEP + SEP)
        val best = words
          .select(col("freq"), syms.as("s"))
          .filter(size(col("s")) >= 2)
          .select(col("freq"), explode(transform(
            sequence(lit(1), size(col("s")) - 1),
            j => struct(element_at(col("s"), j).as("l"),
              element_at(col("s"), j + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true // every word fully merged
        else {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1),
            best(0).getLong(2))
          merges += ((rank, l, r, l + r, c))
          state = replace(state,
            lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
          rank += 1
        }
      }
      merges.result().toDF("rank", "lhs", "rhs", "merged", "pair_count")
    } finally words.unpersist(false)
  }

  /** Gopher-style repetition detection: duplicate word-n-gram fraction per
    * document (high values flag boilerplate-y, low-information text). Pure
    * scan-stage column math — non-distinct n-gram lists never leave the row.
    */
  def repetitionScores(docs: DataFrame): DataFrame = {
    def grams(n: Int): Column = transform(
      sequence(lit(0), size(col("w")) - n),
      i => concat_ws(" ", (1 to n).map(j => element_at(col("w"), i + j)): _*))
    docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(
        col("doc_id"),
        (size(col("w")) - 2).as("n_3grams"),
        size(array_distinct(grams(3))).as("n_unique_3grams"),
        (lit(1) - size(array_distinct(grams(3))).cast("double")
          / (size(col("w")) - 2)).as("dup_3gram_ratio"),
        (lit(1) - size(array_distinct(grams(2))).cast("double")
          / (size(col("w")) - 1)).as("dup_2gram_ratio"))
  }

  // RE2-compatible (no lookahead — the oracle engine has none) and
  // Java-compatible PII shapes; \b is the ASCII word boundary in both.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\+\\d{7,15}"

  /** PII scrubbing: replace emails / IPv4s / international phone numbers
    * with typed placeholder tags, and count the redactions. Counts are
    * taken SEQUENTIALLY — each pattern counted on the text with the
    * previous patterns already scrubbed — so n_pii equals the number of
    * replacements actually performed (an IP embedded inside an email is
    * one redaction, not two). Scan-stage regex work, no shuffle; the
    * scrubbed text is carried forward as a hash here (the driver compare
    * wants small deterministic cells — a pipeline would keep the scrubbed
    * text column itself).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipRe, "<IP>")
    val scrubbed = regexp_replace(afterIp, phoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      (regexp_count(col("text"), lit(emailRe))
        + regexp_count(afterEmail, lit(ipRe))
        + regexp_count(afterIp, lit(phoneRe))).cast("int").as("n_pii"),
      md5(scrubbed).as("scrub_hash"))
  }

  /** Corpus-level boilerplate detection (the C4-style repeated-phrase
    * filter, at bigram granularity for this small-vocab corpus): an
    * n-gram is boilerplate when it appears in >= minShare of documents;
    * each doc reports what fraction of its distinct n-grams are
    * boilerplate.
    *
    * Shape: the expensive gram expansion (tokenize → build bigrams →
    * array_distinct → explode) happens ONCE — the gram frame is persisted
    * (memory-and-disk, i.e. one extra shuffle-write's worth of I/O) and
    * both consumers read the cache. Document frequency is a
    * PARTIAL-AGGREGATED groupBy over the gram key: a boilerplate gram by
    * definition appears in ≥ minShare of all documents, so the round-4
    * window count (no map-side combine) streamed ~minShare · n_docs rows
    * of every hot gram through ONE task — a guaranteed straggler at scale;
    * the partial agg collapses each gram to one row per input partition
    * before the shuffle. The surviving boilerplate-gram set is then
    * BOUNDED BY CONSTRUCTION — at most (total grams)/(minShare · n_docs)
    * ≈ avg-grams-per-doc / minShare entries regardless of corpus size —
    * so joining it back is a safe broadcast at ANY scale (unlike a
    * vocabulary-sized broadcast), and the gram side never shuffles at all.
    * n_docs comes from a cheap tokenize-and-count pass with no gram work.
    *
    * Cache lifecycle: the returned (lazy) plan reads the persisted gram
    * frame, and Spark's CacheManager pins a Dataset cache entry until an
    * explicit unpersist — the ContextCleaner does NOT reclaim it when the
    * frame becomes unreachable (it only handles raw RDD/broadcast refs).
    * A caller that executes the result once and moves on should use
    * [[boilerplateScoresManaged]] and unpersist the gram handle after the
    * action (the driver query in [[defs]] does exactly that); this
    * convenience form is for callers that keep reusing the result within
    * one session and accept a session-lifetime (memory-evictable,
    * disk-resident) cache entry.
    */
  def boilerplateScores(docs: DataFrame, minShare: Double = 0.2): DataFrame =
    boilerplateScoresManaged(docs, minShare)._1

  /** [[boilerplateScores]] plus the persisted gram frame backing it, so
    * the caller can `grams.unpersist()` once the result has been acted on.
    */
  def boilerplateScoresManaged(docs: DataFrame,
                               minShare: Double = 0.2): (DataFrame, DataFrame) = {
    val tokenized = docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 2)
    val nDocs = tokenized.select(count(lit(1)).as("n_docs"))
    val grams = tokenized
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("w")) - 2),
          i => concat_ws(" ",
            element_at(col("w"), i + 1), element_at(col("w"), i + 2))))).as("s"))
      .persist()
    val bpSet = grams.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df").cast("double") / col("n_docs") >= minShare)
      .select(col("s"), lit(1L).as("is_bp"))
    val scored = grams.join(broadcast(bpSet), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_bp"), lit(0L))).as("n_boilerplate"))
      .withColumn("bp_ratio", col("n_boilerplate").cast("double") / col("n_grams"))
    (scored, grams)
  }

  /** The composed curation pass — what a training-data pipeline actually
    * runs: every per-document signal (length, lexical diversity,
    * repetition, PII) computed inline over ONE tokenization in ONE scan
    * (no joins between the signal operators, no shuffle at all), each
    * rule's verdict exposed, and the final keep decision their
    * conjunction. Thresholds are C4/Gopher-shaped, tuned to split the
    * synthetic corpus non-trivially.
    *
    * Too-short documents (< 3 tokens) are NOT dropped — a curation verdict
    * frame must cover every input row, so they come through with guarded
    * signals (ttr 0, dup3 1) and keep = 0 rather than silently vanishing.
    */
  def curation(docs: DataFrame, minTokens: Int = 30, minTtr: Double = 0.35,
               maxDup3: Double = 0.05): DataFrame = {
    def grams3: Column = transform(
      sequence(lit(0), size(col("w")) - 3),
      i => concat_ws(" ", element_at(col("w"), i + 1),
        element_at(col("w"), i + 2), element_at(col("w"), i + 3)))
    val nPii = regexp_count(col("text"), lit(emailRe)) +
      regexp_count(col("text"), lit(ipRe)) + regexp_count(col("text"), lit(phoneRe))
    docs.withColumn("w", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        when(size(col("w")) > 0,
          size(array_distinct(col("w"))).cast("double") / size(col("w")))
          .otherwise(lit(0.0)).as("ttr"),
        when(size(col("w")) >= 3,
          lit(1) - size(array_distinct(grams3)).cast("double")
            / (size(col("w")) - 2))
          .otherwise(lit(1.0)).as("dup3"),
        nPii.cast("int").as("n_pii"))
      .withColumn("pass_len", (col("n_tokens") >= minTokens).cast("int"))
      .withColumn("pass_ttr", (col("ttr") >= minTtr).cast("int"))
      .withColumn("pass_rep", (col("dup3") <= maxDup3).cast("int"))
      .withColumn("pass_pii", (col("n_pii") === 0).cast("int"))
      .withColumn("keep",
        (col("pass_len") * col("pass_ttr") * col("pass_rep") * col("pass_pii"))
          .cast("int"))
  }

  // fixed quality-model weights (intercept, n_tokens, ttr, stopword_ratio,
  // dup3 — negative, repetition is a defect — mean token length) =
  // (−2.0, 0.01, 2.0, 3.0, 10.0, 0.1), tuned on the synthetic corpus to
  // keep ~91%. They appear ×100 as exact integers inside the score
  // numerator below.

  /** Model-scored quality filtering: a fixed-weight LINEAR model over the
    * curation signals, with keep = (score >= 0). Real pipelines run a
    * trained logistic/fasttext quality classifier here; this is the same
    * operator shape — per-doc signals → one scalar score → threshold —
    * with compile-time weights. Deliberately NOT a logistic: exp() is
    * libm-dependent and a last-ulp difference would flip verdicts at the
    * threshold, while the sigmoid is monotone in this linear score anyway,
    * so thresholding the score IS thresholding the sigmoid.
    *
    * Engine portability: a CHAINED double multiply-add (w0 + w1·a + w2·b +
    * …) is NOT portable even with a fixed evaluation order — a compiled
    * oracle engine may contract `a*b + c` into an FMA (one rounding) where
    * the JVM performs two (round-5 shipped that form and was off by ~2
    * ulps). The portable pattern is the ta_tfidf one: every signal is a
    * ratio of small exact integers with denominators n and n−2, so the
    * whole linear form times `100·A·B` (A = max(n,1), B = n≥3 ? n−2 : 1)
    * is ONE exact int64 numerator; score = numerator / (100·A·B) is a
    * single correctly-rounded IEEE division that every engine computes
    * bit-identically. Scan-stage only: ONE tokenization, no shuffle.
    */
  def qualityModelScores(docs: DataFrame): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    def grams3: Column = transform(
      sequence(lit(0), size(col("w")) - 3),
      i => concat_ws(" ", element_at(col("w"), i + 1),
        element_at(col("w"), i + 2), element_at(col("w"), i + 3)))
    val n = col("n_tokens")
    docs.withColumn("w", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_uniq"),
        size(filter(col("w"), x => array_contains(sw, x))).as("n_sw"),
        aggregate(col("w"), lit(0), (acc, x) => acc + length(x)).as("n_chars"),
        when(size(col("w")) >= 3, size(array_distinct(grams3)))
          .otherwise(lit(0)).as("n_uniq3"))
      // exact-integer scaffolding: the common denominator factors and the
      // dup3 numerator (dup3 = dup3n / B covers the n<3 guard, where
      // dup3 := 1 exactly)
      .withColumn("A", greatest(n, lit(1)).cast("long"))
      .withColumn("B", when(n >= 3, n - 2).otherwise(lit(1)).cast("long"))
      .withColumn("dup3n",
        when(n >= 3, n - 2 - col("n_uniq3")).otherwise(lit(1)).cast("long"))
      // signal columns keep their round-5 single-division forms (already
      // hash-green): a ratio or 1 − ratio of exact ints
      .withColumn("ttr",
        when(n > 0, col("n_uniq").cast("double") / n).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(n > 0, col("n_sw").cast("double") / n).otherwise(lit(0.0)))
      .withColumn("mean_tok_len",
        when(n > 0, col("n_chars").cast("double") / n).otherwise(lit(0.0)))
      .withColumn("dup3",
        when(n >= 3, lit(1) - col("n_uniq3").cast("double") / (n - 2))
          .otherwise(lit(1.0)))
      // score · 100·A·B = B·(n·A − 200·A + 200·uniq + 300·sw + 10·chars)
      //                   − 1000·A·dup3n   (weights QW × 100, exact int64)
      .withColumn("score",
        (col("B") * (n.cast("long") * col("A") - lit(200L) * col("A")
            + lit(200L) * col("n_uniq") + lit(300L) * col("n_sw")
            + lit(10L) * col("n_chars"))
          - lit(1000L) * col("A") * col("dup3n")).cast("double")
          / (lit(100L) * col("A") * col("B")).cast("double"))
      .withColumn("keep", (col("score") >= 0).cast("int"))
      .select("doc_id", "n_tokens", "ttr", "stopword_ratio", "mean_tok_len",
        "dup3", "score", "keep")
  }

  /** Bulk inference of a hashed-feature linear classifier — the
    * fastText-style serving shape (Joulin et al. 2017) every curation
    * stack runs to apply a TRAINED quality/topic model at corpus scale:
    * each document's bigrams hash into `buckets` feature slots, the
    * slot weights come from a broadcast weight table, and the document
    * score is the exact integer Σ count·weight with verdict = score ≥ 0.
    * The weight table here is hash-DERIVED (md5-prefix of "ftw:bucket"
    * mapped to [−1000, 1000]) — an honest deterministic stand-in for a
    * trained vector, replayable by the oracle; a production run
    * broadcasts its trained weights through the IDENTICAL plumbing
    * (the shape is what this operator owns: feature hashing, bucket
    * partial-agg, bounded weight join, integer accumulate).
    *
    * Determinism: bucket = portable hash mod `buckets`, weights are
    * exact integers, the score is an exact long sum — no floats at all.
    *
    * Scale: one tokenize+explode, a (doc, bucket) partial agg (the
    * hashing BOUNDS feature cardinality at `buckets` — that is feature
    * hashing's entire point, and why the weight side can broadcast
    * where open-vocabulary sides never can), a plan-proved 4096-row
    * broadcast join (Range), and a per-doc partial agg.
    */
  def hashClassifierScores(docs: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val weights = broadcast(spark.range(buckets.toLong)
      .select(col("id").as("bucket"),
        (portableHash60(concat(lit("ftw:"), col("id").cast("string")))
          % 2001 - 1000).as("w")))
    val feats = docs.withColumn("ws", tokens(col("text")))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1)))).as("bg"))
      .select(col("doc_id"),
        (portableHash60(concat(lit("ftb:"), col("bg"))) % buckets)
          .as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("k"))
    feats.join(weights, "bucket")
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("w")).as("score"))
      .select(col("doc_id"), col("n_bigrams"), col("score"),
        (col("score") >= 0).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Temperature (α = ½) source-mixture weights with an exact
    * largest-remainder quota — the multilingual/multi-source α-sampling
    * every LLM training mixture applies (raw proportions drown the tail
    * sources; uniform over-trains them; w ∝ size^α is the standard
    * compromise): per source, its exact character mass, the α = ½
    * weight as an EXACT integer square root, the raw vs temperature
    * share side by side (the flattening IS the point), and a
    * largest-remainder allocation of a 10⁶-sample budget (q105's quota
    * machinery — fractional parts ranked, ties to source order, so the
    * quotas sum to the budget exactly).
    *
    * Exact isqrt: floor(sqrt(x)) over a double is wrong by one exactly
    * at perfect-square boundaries where the correctly-rounded sqrt
    * lands on an integer from below (x = k²±ε); the ±1 CASE guard
    * ((s+1)² ≤ x → s+1; s² > x → s−1) repairs both directions, so the
    * result IS ⌊√x⌋ for every x in the double-exact domain (< 2⁵³ —
    * nine peta-chars per source; spec-pinned by a boundary-heavy
    * property sweep). Past 2⁵³ the x→double conversion itself can move
    * by > 1 and the guard no longer guarantees ⌊√x⌋ — but ENGINE PARITY
    * still holds at any scale, because both engines run the identical
    * cast → correctly-rounded sqrt → guard pipeline on the identical
    * integer; the weights just become "deterministic ≈^α", which is all
    * a mixture needs.
    *
    * Scale: one partial-agg shuffle to per-source mass; everything
    * after runs on O(sources) rows. The remainder rank is a global
    * window over one row per SOURCE — waived with that named bound
    * (q105's stratum convention).
    */
  def temperatureMix(docs: DataFrame, budget: Long = 1000000L): DataFrame =
    temperatureMixFromMass(
      docs.groupBy("source").agg(sum(col("n_chars")).as("chars")), budget)

  /** The finalization over a per-source (source, chars) mass table —
    * shared by ta_temperature_mix (batch rollup) and st_temperature_mix
    * (the same rollup folded by a stream). See [[temperatureMix]].
    */
  private[graft] def temperatureMixFromMass(tok: DataFrame,
      budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = tok
      .withColumn("s0",
        expr("CAST(floor(sqrt(CAST(chars AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        "CASE WHEN (s0 + 1) * (s0 + 1) <= chars THEN s0 + 1 " +
          "WHEN s0 * s0 > chars THEN s0 - 1 ELSE s0 END"))
    val wt = w.crossJoin(broadcast(w.agg(sum(col("w")).as("w_tot"),
        sum(col("chars")).as("chars_tot"))))
      .withColumn("base", expr(s"($budget * w) div w_tot"))
      .withColumn("frac", expr(s"($budget * w) % w_tot"))
    wt.crossJoin(broadcast(wt.agg(sum(col("base")).as("sum_base"))))
      .withColumn("xr", row_number().over(
        Window.orderBy(col("frac").desc, col("source").asc)))
      .select(col("source"), col("chars"), col("w"),
        expr("(chars * 1000000) div chars_tot").as("raw_share_micro"),
        expr("(w * 1000000) div w_tot").as("share_micro"),
        (col("base") + when(col("xr") <= lit(budget) - col("sum_base"), 1L)
          .otherwise(0L)).as("quota"))
      .orderBy("source")
  }

  /** Overlapping context-window chunk plan — the RAG/eval sibling of
    * [[packSequences]] (packing concatenates documents to fill training
    * windows; chunking SPLITS long documents into windows with overlap
    * so no boundary loses context): per document, one row per chunk
    * with its token span. Stride/window are parameters (defaults 256
    * window, 192 stride = 64-token overlap, the common RAG shape);
    * chunk count = 1 + ⌈(n−W)/S⌉ for n > W else 1, all exact integer
    * arithmetic (the ceil is the add-S−1-then-div form in both
    * engines).
    *
    * Scale: row-local sequence + explode inside the scan — zero
    * shuffle, zero state; output is input-linear × the chunk factor.
    */
  def chunkPlan(docs: DataFrame, window: Int = 256,
      stride: Int = 192): DataFrame = {
    docs.withColumn("n", size(tokens(col("text"))))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1)).otherwise(
          lit(1) + expr(s"CAST((n - $window + $stride - 1) div $stride " +
            "AS INT)")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + window, col("n_tokens"))
          .as("end_tok"))
      .withColumn("n_in_chunk", col("end_tok") - col("start_tok"))
      .withColumn("is_last",
        (col("end_tok") === col("n_tokens")).cast("int"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Row-local twin of [[hashClassifierScores]]: because this library's
    * stand-in weights are hash-DERIVED, the whole score computes inside
    * the scan row (weight = hash(hash(bigram) mod buckets), folded with
    * an in-row aggregate) — zero shuffle, zero state, which is what
    * makes the STREAMING form (`st_hash_infer`) a stateless Append-mode
    * map over arriving documents. A trained weight table would instead
    * broadcast-join exactly as the batch form does (in a stream too —
    * broadcast joins are stream-safe); the two forms are proven
    * equivalent by sharing the ta_hash_infer oracle verbatim.
    */
  def hashClassifierRowLocal(docs: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val bgs = transform(
      sequence(lit(1), size(col("ws")) - 1),
      i => concat_ws(" ", element_at(col("ws"), i),
        element_at(col("ws"), i + 1)))
    val weights = transform(col("bgs"), bg =>
      portableHash60(concat(lit("ftw:"),
        (portableHash60(concat(lit("ftb:"), bg)) % buckets)
          .cast("string"))) % 2001 - 1000)
    docs.withColumn("ws", tokens(col("text")))
      .filter(size(col("ws")) >= 2)
      .withColumn("bgs", bgs)
      .select(col("doc_id"), size(col("bgs")).cast("long").as("n_bigrams"),
        aggregate(weights, lit(0L), (a, x) => a + x).as("score"))
      .select(col("doc_id"), col("n_bigrams"), col("score"),
        (col("score") >= 0).cast("int").as("keep"))
  }

  /** Inter-rater agreement of the three independent quality gates —
    * Fleiss' κ (Fleiss 1971) over the hand-feature model
    * ([[qualityModelScores]]), the Gopher rule battery ([[gopherRules]])
    * and the corpus-LM filter ([[lmScores]]) as three binary raters per
    * document: the meta-eval that tells a curation pipeline whether its
    * gates measure one notion of quality (κ → 1), independent notions
    * (κ ≈ 0), or are fighting (κ < 0) — chance-corrected, unlike raw
    * overlap. Universe = docs all three raters cover (inner join;
    * lmScores needs ≥ 2 tokens).
    *
    * Exact arithmetic: with n = 3 raters the per-doc agreement term is
    * k(k−1)+(3−k)(2−k) ∈ {6,2,2,6} for k keeps; κ reduces to the
    * single exact rational (3N·Σa − 2Q) / (18N² − 2Q) with
    * Q = K² + (3N−K)² — accumulated in DECIMAL(38,0), published through
    * [[graft.queries.Relational.boundedLong]]'s convention as exact
    * num/den + ONE IEEE division (the q159/q168 signed-rational rule).
    * Pairwise raw agreements ship as exact micro integral divisions.
    *
    * Scale: three scan-shaped raters (each one partial-agg pass), an
    * id-keyed 3-way join, one global partial agg to a single row.
    */
  def raterAgreement(docs: DataFrame): DataFrame = {
    val q = qualityModelScores(docs).select(col("doc_id"),
      col("keep").cast("long").as("kq"))
    val g = gopherRules(docs).select(col("doc_id"),
      col("keep").cast("long").as("kg"))
    val l = lmScores(docs).select(col("doc_id"),
      col("keep").cast("long").as("kl"))
    val big = "decimal(38,0)"
    q.join(g, "doc_id").join(l, "doc_id")
      .select(col("doc_id"), col("kq"), col("kg"), col("kl"),
        (col("kq") + col("kg") + col("kl")).as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kq")).as("keep_q"), sum(col("kg")).as("keep_g"),
        sum(col("kl")).as("keep_l"),
        sum(expr("k * (k - 1) + (3 - k) * (2 - k)")).as("sa"),
        sum(col("k")).as("kk"),
        sum((col("kq") === col("kg")).cast("long")).as("agree_qg"),
        sum((col("kq") === col("kl")).cast("long")).as("agree_ql"),
        sum((col("kg") === col("kl")).cast("long")).as("agree_gl"))
      .select(col("n_docs"), col("keep_q"), col("keep_g"), col("keep_l"),
        expr("(agree_qg * 1000000) div n_docs").as("agree_qg_micro"),
        expr("(agree_ql * 1000000) div n_docs").as("agree_ql_micro"),
        expr("(agree_gl * 1000000) div n_docs").as("agree_gl_micro"),
        expr(s"CAST(3 AS $big) * n_docs * sa" +
          s" - 2 * (CAST(kk AS $big) * kk" +
          s" + CAST(3 * n_docs - kk AS $big) * (3 * n_docs - kk))")
          .as("kn"),
        expr(s"CAST(18 AS $big) * n_docs * n_docs" +
          s" - 2 * (CAST(kk AS $big) * kk" +
          s" + CAST(3 * n_docs - kk AS $big) * (3 * n_docs - kk))")
          .as("kd"))
      .select(col("n_docs"), col("keep_q"), col("keep_g"), col("keep_l"),
        col("agree_qg_micro"), col("agree_ql_micro"), col("agree_gl_micro"),
        graft.queries.Relational.boundedLong(col("kn"), "kappa_num")
          .as("kappa_num"),
        graft.queries.Relational.boundedLong(col("kd"), "kappa_den")
          .as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0,
          col("kappa_num").cast("double") / col("kappa_den").cast("double")))
  }

  /** Tokenize the corpus WITH the learned BPE vocabulary — the apply half
    * of [[bpeVocab]] (a pipeline learns merges once, then encodes every
    * document): per document, the token count after applying the merge
    * table in rank order, next to the raw symbol (character) count the
    * merges started from. The merge table is parameter-bounded (`nMerges`
    * rows), so collecting it to drive the constant `replace` chain is the
    * same driver-holds-parameters-only shape as the k-means centroids;
    * the per-document encode is pure scan-stage column work. Documents
    * with zero letter tokens have nothing to encode and no row (matching
    * the oracle's unnest of an empty list).
    */
  def bpeApply(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val merges = bpeVocab(docs, nMerges)
      .select("lhs", "rhs").collect().map(r => (r.getString(0), r.getString(1)))
    val base = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .select(col("doc_id"),
        concat(lit(SEP), array_join(split(col("word"), ""), SEP + SEP),
          lit(SEP)).as("state"))
    val encoded = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("state", replace(col("state"),
        lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP)))
    }
    encoded
      .select(col("doc_id"),
        size(split(trim(col("state"), SEP), SEP + SEP)).as("n_syms"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_symbols"))
  }

  /** TF-IDF top-k salient terms per document — the linear-idf variant
    * (score = tf · n_docs/df, no logarithm). The choice is deliberate:
    * log() is libm-dependent, and last-ulp differences across engines
    * would flip ranks at near-ties, breaking the bit-exact oracle. Here
    * every score is an exact integer product (< 2^53, exact in double)
    * and ONE IEEE division, which every engine rounds identically; the
    * rank ordering is therefore engine-portable. (Log-idf compresses the
    * rare-term end and can rank differently; a pipeline wanting classic
    * ln(N/df) weights applies ln to the exported df/n_docs columns.)
    *
    * Scale shape: tf is one groupBy(doc, term) with map-side combine; the
    * document-frequency side is vocabulary-sized, so it is SHUFFLE-joined
    * on term — never broadcast: under Heaps' law an open-vocabulary web
    * corpus has a df table that outgrows executor memory, and a pinned
    * broadcast would OOM every executor at 100 TB. Both join inputs derive
    * from the same term-keyed aggregate, so the join costs one
    * key-partitioned exchange of each side; AQE is free to locally convert
    * it to broadcast at runtime when df turns out small — the point is the
    * STATIC plan must not bet on that. Ranking is one window over the doc
    * partition.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Corpus-LM scoring — the perplexity-proxy quality filter (the
    * KenLM-filter shape from CCNet/RedPajama): fit a bigram frequency
    * model ON the corpus itself, then score each document by how typical
    * its bigrams are. Exported signals per document: bigram count, mean
    * corpus frequency of its bigrams (fluent, on-distribution text scores
    * high), and the fraction of its bigrams occurring nowhere else in the
    * corpus (`rare_frac` — high values flag garbled or out-of-distribution
    * text, the docs a perplexity filter drops). Both are ONE division of
    * exact integers (engine-portable); the keep threshold 0.5 is exactly
    * representable in binary, so the verdict can't flip between engines.
    *
    * Scale shape (same discipline as [[tfidfTopTerms]]): the model is a
    * vocabulary²-sized groupBy with map-side combine — NEVER broadcast
    * (open-vocabulary bigram tables outgrow executor memory under Heaps'
    * law); scoring is one shuffle join on the bigram key plus a per-doc
    * groupBy. Ultra-common bigrams are the usual skew hazard, bounded
    * here because each (doc, bigram) row joins to ONE model row (no
    * fan-out, unlike the shingle-pair join).
    *
    * The corpus is tokenized and exploded ONCE: both the model and the
    * probe side derive from the same per-(doc_id, bg) count aggregate, so
    * their plans share an identical exchange subtree and ReuseExchange
    * materializes the expensive explode a single time. (The round-7 form
    * fed the raw occurrence frame to both consumers; the model side
    * partial-aggregated before its shuffle and the probe side didn't, the
    * exchanges didn't canonicalize equal, and the whole corpus tokenized
    * twice — at 100 TB the double scan IS the cost of the operator.)
    * Occurrence counts fold through exactly: a (doc, bg) pair seen k
    * times contributes k rows, k·c to the frequency sum, and k rare hits
    * — and c = 1 forces k = 1, so rare accounting is unchanged.
    */
  def lmScores(docs: DataFrame, rareMax: Double = 0.5): DataFrame = {
    val dbg = docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1)))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    val model = dbg.groupBy("bg").agg(sum(col("k")).as("c"))
    dbg.join(model, "bg")
      .groupBy("doc_id")
      .agg(
        sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("c")).as("freq_sum"),
        sum(when(col("c") === 1, col("k")).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("freq_sum").cast("double") / col("n_bigrams")).as("avg_bigram_freq"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"),
        (col("n_rare").cast("double") / col("n_bigrams") <= rareMax)
          .cast("int").as("keep"))
  }

  /** CCNet-style perplexity buckets — the head/middle/tail split the
    * CCNet/RedPajama curation pipeline makes per LANGUAGE before keeping
    * the head (Wenzek et al. 2020): docs are scored by the corpus-LM
    * rare-bigram fraction ([[lmScores]]'s perplexity proxy, quantized to
    * exact micro units), and each language's score distribution is cut
    * at its ⅓ and ⅔ cumulative-mass points. Published per doc: the
    * score, the bucket name, and keep = bucket ≠ tail.
    *
    * Determinism: rare_micro = (n_rare·10⁶) div n_bigrams is ONE
    * integral division of exact positive integers; bucket assignment is
    * pure integer arithmetic on the histogram (3·below vs 1·tot / 2·tot
    * cross-multiplication — no division at all), and equal scores land
    * in the same bucket by construction, so no tie-break is ever needed.
    *
    * Scale: this is the CUTOFF-TABLE design, not a per-doc rank — the
    * corpus-sized work is one tokenize+explode, the no-fan-out model
    * join (each (doc, bigram) row matches ONE model row), and a per-doc
    * partial agg; the cumulative window then runs over the per-language
    * HISTOGRAM of quantized scores (≤ 10⁶+1 grid values by
    * construction, in practice ≤ distinct (rare, n) floor values — a
    * value-grid bound, not a corpus bound), and docs get their bucket
    * back through a key-partitioned join on (lang, rare_micro). A
    * per-doc ntile/rank window per language would serialize each
    * language through one reducer at 100 TB; the histogram form is why
    * CCNet itself computes cutoffs first.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dbg = docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1)))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    val model = dbg.groupBy("bg").agg(sum(col("k")).as("c"))
    val per = dbg.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"),
        sum(when(col("c") === 1, col("k")).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(n_rare * 1000000) div n_bigrams").as("rare_micro"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val wCum = Window.partitionBy("lang").orderBy("rare_micro")
    val grid = per.groupBy("lang", "rare_micro")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", sum(col("cnt")).over(wCum) - col("cnt"))
      .withColumn("tot",
        sum(col("cnt")).over(Window.partitionBy("lang")))
      .select(col("lang").as("glang"), col("rare_micro").as("gmicro"),
        when(col("below") * 3 >= col("tot") * 2, lit("tail"))
          .when(col("below") * 3 >= col("tot"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
    per.join(grid, col("lang") === col("glang")
        && col("rare_micro") === col("gmicro"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("rare_micro"), col("bucket"),
        (col("bucket") =!= "tail").cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Corpus bigram counts — the one corpus-sized reduction under the
    * Kneser–Ney model, factored so st_kneser_ney can FOLD exactly this
    * aggregate in-stream (explode is stateless; the state is the bigram
    * vocabulary) and finalize sink-side.
    */
  private[graft] def bigramCounts(docs: DataFrame): DataFrame =
    docs.withColumn("ws", tokens(col("text")))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("v"),
          element_at(col("ws"), i + 1).as("n")))).as("b"))
      .groupBy(col("b.v").as("v"), col("b.n").as("w2"))
      .agg(count(lit(1)).as("c_vw"))

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999's benchmark winner) — the smoothing every
    * n-gram LM production system shipped before neural LMs, and a
    * probability the add-k models [[lmScores]] family can't imitate:
    * the backoff weight is the CONTINUATION count N1+(·w) ("how many
    * contexts does w complete"), not raw frequency, which is why KN
    * doesn't over-score corpus-frequent-but-context-bound words.
    *
    * Exactness: the standard discount d = 0.75 is the RATIONAL 3/4, so
    * multiplying through by 4 makes the whole interpolation one exact
    * fraction —
    * P = [max(4·c(vw)−3, 0)·N1+(··) + 3·N1+(v·)·N1+(·w)]
    *     / [4·c(v)·N1+(··)]
    * — and `pkn_pico` = ⌊10¹²·P⌋ is ONE integral division of
    * DECIMAL(38,0)/HUGEINT-exact positive integers (10¹²·4·c·N nears
    * 10³⁰ at web scale — decimal inside, longs out). No floats, no
    * logs: the probabilities themselves gate, where a perplexity would
    * drag in engine-specific log/exp.
    *
    * Scale: bigram counts are one explode + partial-agg shuffle; the
    * context (c(v), N1+(v·)) and continuation (N1+(·w)) tables derive
    * from the COUNTS, not the corpus; both joins are keyed on open
    * vocabulary (shuffled, never broadcast); N1+(··) is a scalarRow;
    * top-50 is a TakeOrdered with a total (pico, v, w) tie-break.
    */
  def kneserNey(docs: DataFrame): DataFrame =
    kneserNeyFromBigrams(bigramCounts(docs))

  /** The KN finalize over a (v, w2, c_vw) bigram-count frame — shared
    * verbatim by ta_kneser_ney and st_kneser_ney.
    */
  private[graft] def kneserNeyFromBigrams(bigrams: DataFrame): DataFrame = {
    val bg = bigrams.localCheckpoint(true) // four consumers below
    val ctx = bg.groupBy("v").agg(sum(col("c_vw")).as("c_v"),
      count(lit(1)).as("n1p_fwd"))
    val cont = bg.groupBy("w2").agg(count(lit(1)).as("n1p_back"))
    val nbg = graft.tools.Scalar.scalarRow(
      bg.agg(count(lit(1)).as("n_bigrams")))
    bg.join(ctx, "v").join(cont, "w2")
      .crossJoin(broadcast(nbg))
      .select(col("v"), col("w2").as("w"),
        col("c_vw").cast("long").as("c_vw"),
        col("c_v").cast("long").as("c_v"),
        expr("CAST((CAST(1000000000000 AS DECIMAL(38,0)) * " +
          "(greatest(4 * c_vw - 3, 0) * CAST(n_bigrams AS DECIMAL(38,0))" +
          " + 3 * CAST(n1p_fwd AS DECIMAL(38,0)) * n1p_back)) DIV " +
          "(4 * CAST(c_v AS DECIMAL(38,0)) * n_bigrams) AS BIGINT)")
          .as("pkn_pico"))
      .orderBy(desc("pkn_pico"), col("v"), col("w"))
      .limit(50)
  }

  /** Distinctive vocabulary per source — the data-mixing QA view: which
    * words over- or under-represent a source against the whole corpus.
    * Ranked by the EXACT cross-multiplied frequency deviation
    * |c_sw·n_c − c_w·n_s| (DECIMAL(38,0) — n_c·c_sw reaches ~10^27 at
    * 100 TB, far past int64), so the ranking never touches a float; the
    * per-row `lift` ((c_sw/n_s)/(c_w/n_c), the log-odds ratio's argument)
    * is ONE fixed-shape double expression — the [[lmScores]] discipline:
    * integer aggregation everywhere, engine-replayable float math only in
    * the final projection. A KL/JS divergence score would instead SUM
    * engine-computed logs across the vocab — never bit-stable across
    * engines — which is exactly why the ranked-deviation form is the
    * hash-gated one.
    *
    * Scale: token counts are one partial-agg exchange; corpus and
    * per-source totals are key-bounded partial aggs; the top-k window
    * partitions by source over per-source vocab (sub-linear in corpus
    * size — the only stage whose width grows with vocabulary, noted).
    * Only PRESENT (source, word) pairs rank — a distinctive absence
    * doesn't surface (it would need the vocab × sources cross join).
    */
  def distinctiveWords(docs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs
      .select(col("source"), explode(tokens(lower(col("text")))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
    val corpus = wc.groupBy("word").agg(sum(col("c_sw")).as("c_w"))
    val perSource = wc.groupBy("source").agg(sum(col("c_sw")).as("n_s"))
    val total = perSource.agg(sum(col("n_s")).as("n_c"))
    val dev = wc.join(corpus, "word")
      .join(perSource, "source")
      .crossJoin(total)
      .withColumn("dev",
        abs(Exact.dec(col("c_sw")) * col("n_c")
          - Exact.dec(col("c_w")) * col("n_s")))
    val w = Window.partitionBy("source").orderBy(col("dev").desc, col("word"))
    dev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("word"),
        col("c_sw"), col("n_s"), col("c_w"), col("n_c"),
        ((col("c_sw").cast("double") * col("n_c").cast("double"))
          / (col("n_s").cast("double") * col("c_w").cast("double")))
          .as("lift"))
      .orderBy("source", "rnk")
  }

  /** χ² term–class feature selection: which words are most associated
    * with a language class, by the presence/absence 2×2 contingency χ²
    * (Manning/Schütze IR ch.13, scikit-learn's chi2 selector) — the
    * standard pick-discriminative-features pass a curation classifier
    * trains on. For term t and class c over N docs with a = df(t in c),
    * tf = df(t), ld = |c|: χ² = N·(a·N − tf·ld)² / (tf·(N−tf)·ld·(N−ld))
    * (the a·N − tf·ld identity folds the four cells into one product
    * difference — no materialized B/C/D columns).
    *
    * Determinism: every count is an integer; the published `chi2_pico`
    * = ⌊10¹²·χ²⌋ is ONE integral division of DECIMAL(38,0)-exact
    * operands (q155's convention). Exact while 10¹²·N·(a·N − tf·ld)²
    * fits 38 digits — comfortable at any tested SF and at realistic df
    * skews; the mechanical widening past that is a two-limb decimal (or
    * a typed-map BigInt mulDiv), not a plan change. Terms occurring in
    * every doc (tf = N) carry zero information and a zero denominator —
    * filtered, not NULL-ranked (engines disagree on NULL order).
    *
    * Scale: one explode+distinct scan pass, a (word, class) partial-agg
    * shuffle, a second open-vocab shuffle keyed by word for tf (never
    * broadcast — the vocabulary grows with the corpus), class sizes and
    * N broadcast (classes are bounded, N is a scalarRow), and the top-50
    * is a TakeOrdered with a total (χ² desc, word, lang) tie-break.
    */
  def chi2Terms(docs: DataFrame, k: Int = 50): DataFrame = {
    val present = docs.select(col("lang"), col("doc_id"),
      explode(array_distinct(tokens(lower(col("text"))))).as("word"))
    chi2FromCounts(
      present.groupBy("word", "lang").agg(count(lit(1)).as("df_class")),
      docs.groupBy("lang").agg(count(lit(1)).as("lang_docs")), k)
  }

  /** The χ² finalization over a (word, lang, df_class) grid plus
    * per-class doc counts — shared by [[chi2Terms]] (batch) and st_chi2
    * (the same two rollups folded by a stream). N is the class-count
    * sum, so no third input is needed.
    */
  private[graft] def chi2FromCounts(a: DataFrame, ld: DataFrame,
                                    k: Int = 50): DataFrame = {
    val tf = a.groupBy("word").agg(sum(col("df_class")).as("term_df"))
    val n = graft.tools.Scalar.scalarRow(
      ld.agg(sum(col("lang_docs")).cast("long").as("n_docs")))
    a.join(tf, "word")
      .join(broadcast(ld), "lang")
      .crossJoin(broadcast(n))
      .filter(col("term_df") >= 5 && col("term_df") < col("n_docs") &&
        col("lang_docs") < col("n_docs"))
      .select(col("word"), col("lang"), col("df_class"), col("term_df"),
        col("lang_docs"), col("n_docs"),
        expr("CAST((CAST(1000000000000 AS DECIMAL(38,0)) * n_docs * " +
          "(CAST(df_class AS DECIMAL(38,0)) * n_docs - " +
          " CAST(term_df AS DECIMAL(38,0)) * lang_docs) * " +
          "(CAST(df_class AS DECIMAL(38,0)) * n_docs - " +
          " CAST(term_df AS DECIMAL(38,0)) * lang_docs)) DIV " +
          "(CAST(term_df AS DECIMAL(38,0)) * (n_docs - term_df) * " +
          " lang_docs * (n_docs - lang_docs)) AS BIGINT)").as("chi2_pico"))
      .orderBy(col("chi2_pico").desc, col("word"), col("lang"))
      .limit(k)
  }

  /** Sequence packing (concat-and-chunk) — how pretraining actually
    * consumes documents: the corpus is one long token stream, cut into
    * fixed-size context windows. For each document: its start offset in
    * the stream (documents concatenated in doc_id order), and the first /
    * last / count of `chunkTokens`-sized windows it lands in — the
    * doc→window index a packed-dataset writer needs (and its inverse, the
    * provenance map from a training window back to source documents).
    *
    * Scale shape — the naive form is a GLOBAL-ORDER running sum, i.e. one
    * window over the whole corpus in a SINGLE partition (the classic
    * accidental scale-killer). This is the two-level distributed prefix
    * sum instead: per-bucket running sums are computed in a window
    * PARTITIONED by bucket (key-parallel), bucket totals aggregate with
    * map-side combine, and only the bucket-total table (corpus/`bucketDocs`
    * rows — itself re-bucketable for another 256× if ever needed) passes
    * through the one single-partition window; offsets then join back on
    * the bucket key. Document order within and across buckets is doc_id
    * order, so the result is bit-identical to the naive global cumsum the
    * oracle runs.
    *
    * Two steps: [[tokenCounts]] tokenizes each document, and
    * [[packCounts]] packs the `(doc_id, n_tokens)` counts. A caller whose
    * frame already carries each document's token count packs it directly.
    */
  def packSequences(docs: DataFrame, chunkTokens: Int = 512,
                    bucketDocs: Int = 256): DataFrame =
    packCounts(tokenCounts(docs), chunkTokens, bucketDocs)

  /** Each document's token count: `(doc_id, n_tokens)`. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))

  /** [[packSequences]]' packing step over `(doc_id, n_tokens)` counts;
    * documents with no token take no place in the stream.
    */
  def packCounts(counts: DataFrame, chunkTokens: Int = 512,
                 bucketDocs: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = counts.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", expr(s"doc_id DIV $bucketDocs"))
    val inBucket = Window.partitionBy("bucket").orderBy("doc_id")
    val before = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("bucket").agg(sum(col("n_tokens")).as("tot"))
      .select(col("bucket"),
        coalesce(sum(col("tot")).over(before), lit(0L)).as("bucket_offset"))
    t.withColumn("cum_incl", sum(col("n_tokens")).over(inBucket))
      .join(offsets, "bucket")
      .withColumn("start_pos",
        col("bucket_offset") + col("cum_incl") - col("n_tokens"))
      .withColumn("first_chunk", expr(s"start_pos DIV $chunkTokens"))
      .withColumn("last_chunk",
        expr(s"(start_pos + n_tokens - 1) DIV $chunkTokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_pos"),
        col("first_chunk"), col("last_chunk"),
        (col("last_chunk") - col("first_chunk") + 1).as("n_chunks"))
  }

  /** Deterministic global shuffle + sharding — the last step before
    * training: break any correlation between corpus order (crawl order,
    * source grouping) and training order, and split the result into
    * `nShards` balanced output files. The permutation key is the portable
    * hash of the doc id, so the "random" order is reproducible run-to-run
    * and engine-to-engine; the shard is the key mod nShards and the
    * position is the rank of the key within its shard.
    *
    * Scale shape: exactly what a distributed shuffle-write does anyway —
    * one hash-partitioned exchange (shards are hash-balanced by
    * construction, no skew possible) and a per-shard sort; rank within a
    * shard is a window over that shard's rows, the same local sort the
    * shuffle's writer performs. No global ordering structure exists
    * anywhere — the global permutation is only ever materialized as
    * (shard, position) coordinates.
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col("doc_id"))
      .withColumn("skey",
        portableHash60(concat_ws(":", lit("shuf"), col("doc_id"))))
      .withColumn("shard", (col("skey") % nShards).cast("int"))
    val w = Window.partitionBy("shard").orderBy(col("skey").asc, col("doc_id").asc)
    keyed
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  // mixture weights for the corpus languages as INTEGER thresholds out of
  // 1e6 (en 50%, de 25%, fr 10%); unknown/other strata get the default.
  // Integer thresholds, not fractions: `0.05 * 1e6` is 50000.0000…07 in
  // IEEE double but exactly 50000 in the oracle's decimal arithmetic, so
  // a coin landing exactly on the boundary would flip between engines.
  private val mixQuotas = Map("en" -> 500000L, "de" -> 250000L, "fr" -> 100000L)

  /** Data mixing: deterministic stratified (per-language) sampling — the
    * step that turns curated sources into a training mixture with chosen
    * proportions. A document is kept when the portable hash of its id,
    * reduced mod 1e6, falls under its stratum's quota — i.e. per-stratum
    * Bernoulli sampling with a DETERMINISTIC coin, so the sample is
    * reproducible and any two runs (or engines) agree document-by-document.
    *
    * Scale shape: the quota table is parameters (a broadcast of a few
    * rows), the coin is scan-stage column math — NO shuffle at all, unlike
    * the exact-quota formulation (row_number window per stratum), which
    * shuffles the corpus by stratum and stragglers on the hot one. At
    * 100 TB, expected-fraction quotas are what mixing actually uses;
    * exact-count quotas exist only at the cost of that skewed shuffle.
    */
  def stratifiedSample(docs: DataFrame,
                       quotas: Map[String, Long] = mixQuotas,
                       defaultThreshold: Long = 50000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q = broadcast(quotas.toSeq.toDF("lang", "thr"))
    docs.join(q, Seq("lang"), "left")
      .withColumn("thr", coalesce(col("thr"), lit(defaultThreshold)))
      .withColumn("coin",
        portableHash60(concat_ws(":", lit("mix"), col("doc_id"))) % 1000000)
      .filter(col("coin") < col("thr"))
      .select("doc_id", "lang", "coin")
  }

  /** DEDUP-KEY URL canonicalizer — the normalization every web-corpus
    * pipeline runs before URL-level dedup (C4/CCNet/RefinedWeb all dedup
    * on a canonical URL before touching content). The CONTRACT is the
    * dedup-key convention, not general-purpose URL rewriting: input is
    * an absolute scheme://host URL as crawlers emit them. Out of
    * contract (by design — a dedup key only has to be a deterministic
    * many-to-one fold, and none of these occur in crawl-frontier URLs):
    * schemeless input (folds to "https://" + the raw string — still
    * deterministic, but not a parse), userinfo@ authorities (lowercased
    * with the host), and bracketed IPv6 hosts (the :80/:443 strip can
    * touch a bare trailing group if the port is absent). Pure string
    * expressions, applied to the url column:
    *   1. fragment stripped;
    *   2. host lowercased (path/query case-PRESERVED — they are
    *      case-significant per RFC 3986 §6.2.2.1); the scheme FOLDS to
    *      https (the dedup-key convention: http/https variants of one
    *      resource must land in the same group);
    *   3. default ports :80/:443 stripped;
    *   4. duplicate path slashes collapsed, trailing slash dropped
    *      (empty path → "/");
    *   5. tracking params (utm_*) dropped, survivors sorted bytewise.
    * Everything stays inside whole-stage codegen (regexp/array exprs, no
    * UDF); the empty-query join is an explicit CASE because Spark's
    * array_join(∅)='' but DuckDB's array_to_string(∅)=NULL (the r13
    * fuzzer's finding #3 — the oracle mirrors the CASE).
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val host = lower(regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
      ":(443|80)$", ""))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_replace(
      regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/{2,}", "/"),
      "(.)/$", "$1")
    val kept = array_sort(filter(split(
      regexp_extract(rest, "\\?(.*)$", 1), "&"),
      p => !p.startsWith("utm_") && p =!= ""))
    concat(
      lit("https://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** URL-level dedup over [[canonicalizeUrl]] — documents carry no URL
    * column, so each derives a deterministic MESSY url from its keys
    * (mixed-case scheme/host, default port, doubled and trailing slashes,
    * utm params on both sides of the kept id param, fragments — one of
    * each canonicalization hazard, oracle-replayed verbatim), then the
    * canonical form groups and each group keeps its smallest doc_id.
    * Groups form whenever a run of ≤7 consecutive doc ids shares
    * (source, lang) — real variant clusters, not a global collapse.
    *
    * Scale shape: derivation + canonicalization are scan-stage codegen;
    * the dedup is ONE exchange keyed by canonical url (dd_exact's shape —
    * the key is a short string, not document content, so this is the
    * cheap dedup that runs FIRST in a crawl pipeline, before any content
    * hash).
    */
  def urlCanon(docs: DataFrame): DataFrame = {
    val id = expr("(doc_id div 7) % 100").cast("string")
    val raw = concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 2 === 0, upper(col("source")))
        .otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/"), col("lang"),
      when(col("doc_id") % 5 === 0, lit("//")).otherwise(lit("/")),
      lit("doc"), expr("CAST(doc_id div 7 AS STRING)"),
      when(col("doc_id") % 6 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, concat(lit("?utm_source=feed&id="), id))
        .otherwise(concat(lit("?id="), id, lit("&utm_campaign=x"))),
      when(col("doc_id") % 6 === 0, concat(lit("#sec-"), col("lang")))
        .otherwise(lit("")))
    docs.select(col("doc_id"), canonicalizeUrl(raw).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keeper_doc"))
      .orderBy("canonical_url")
  }

  /** Per-(source, lang) document cap — the "domain cap" every web-corpus
    * pipeline applies (C4 / RefinedWeb style) so no single site dominates
    * the training mixture: each group keeps at most `cap` documents,
    * chosen by a DETERMINISTIC lottery (portable hash of the doc id, ties
    * impossible since ids are unique), so reruns and engines agree
    * document-by-document.
    *
    * Scale shape: group sizes come from one map-side-combined groupBy
    * (output is O(groups) — a broadcast-sized parameter table, since
    * groups are domains, not documents). Groups already under the cap
    * BYPASS the ranking entirely (rnk NULL, kept) — only over-cap groups
    * pay the per-group window shuffle. The residual hazard is one
    * pathological mega-domain straggling its window partition; the fix at
    * that scale is threshold selection on the uniform lottery hash (a
    * per-group histogram of hash prefixes locates the cap-th smallest
    * without a total sort) — same output, documented here as the 100 TB
    * refinement.
    */
  def sourceCap(docs: DataFrame, cap: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = docs.select(col("doc_id"), col("source"), col("lang"))
      .withColumn("prio",
        portableHash60(concat_ws(":", lit("cap"), col("doc_id"))))
    val counts = sized.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_group"))
    val withN = sized.join(broadcast(counts), Seq("source", "lang"))
    val under = withN.filter(col("n_group") <= cap)
      .select(col("doc_id"), col("source"), col("lang"), col("n_group"),
        lit(null).cast("int").as("rnk"), lit(1).as("kept"))
    val w = Window.partitionBy("source", "lang")
      .orderBy(col("prio").asc, col("doc_id").asc)
    val ranked = withN.filter(col("n_group") > cap)
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("source"), col("lang"), col("n_group"),
        col("rnk"), (col("rnk") <= cap).cast("int").as("kept"))
    under.unionByName(ranked)
  }

  /** Rolling-hash fingerprints (Rabin–Karp, codegen'd native expression —
    * [[graft.functions.Poly31Hash]]): the polynomial form whose windowed
    * variant supports O(1) sliding updates in substring-dedup pipelines.
    * Hashed raw and whitespace-normalized, like [[fingerprints]].
    */
  def rollingHashes(docs: DataFrame): DataFrame = {
    import graft.functions.hashes.poly31Hash
    val normalized = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    docs.select(
      col("doc_id"),
      poly31Hash(col("text")).as("rh_raw"),
      poly31Hash(normalized).as("rh_norm"))
  }

  /** Weighted Bernoulli sampling — keep each document with probability
    * proportional to its weight (here n_chars, the usual proxy for token
    * count when sampling a corpus by volume rather than by document).
    * The coin is the portable 60-bit hash of the doc id reduced mod 1e6,
    * and the comparison is cross-multiplied so it stays ALL-INTEGER:
    * `(h % 1e6) · max_w < w · 1e6` — no float division anywhere, so the
    * keep/drop decision is bit-identical in any engine.
    *
    * Scale shape: the max-weight is a 1-row aggregate broadcast into the
    * scan stage; the sample decision itself is scan-stage, zero shuffle —
    * the same shape as [[stratifiedSample]]'s quota coin. At 100 TB the
    * only cross-cluster traffic is the 1-row scalar.
    */
  def weightedSample(docs: DataFrame): DataFrame = {
    val mx = docs.agg(max(col("n_chars")).as("mx"))
    docs.crossJoin(broadcast(mx))
      .filter(
        (portableHash60(concat(lit("ws:"), col("doc_id").cast("string")))
          % 1000000L) * col("mx") < col("n_chars") * 1000000L)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** Gopher-style quality rule bundle (Rae et al. 2021 §A1.1, re-expressed
    * over this corpus's signals): each rule is a named integer flag so a
    * pipeline can report WHY a document was dropped, not just that it was.
    *  - r_wc:   50 ≤ word count ≤ 1000 (too-short/too-long filter)
    *  - r_mwl:  3 ≤ mean word length ≤ 10 (gibberish filter)
    *  - r_stop: ≥ 2 distinct stopwords present (English-prose prior)
    *  - r_rep:  most-frequent token ≤ 20% of all tokens (repetition cap)
    * keep = every rule passes. All signals are exact-integer or single
    * exact-int divisions, so flags AND signals hash-match the oracle.
    *
    * The four counts behind the signals come from one codegen'd
    * [[graft.functions.GopherCounts]] kernel: one pass over the tokens with
    * one hash map per row, in the scan stage, zero shuffle.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    gopherGate(docs.withColumn("w", tokens(col("text"))))
      .select(col("doc_id"), col("n_words"), col("mean_wl"), col("n_stop"),
        col("top_ratio"), col("r_wc"), col("r_mwl"), col("r_stop"),
        col("r_rep"), col("keep"))

  /** [[gopherRules]]' signals and flags appended to `tokenized`, whose `w`
    * holds each row's tokens; rows without a token are dropped, `w` is
    * dropped and every other input column is kept, so a pipeline can gate
    * its documents in their own scan, with no join back to them.
    */
  private[graft] def gopherGate(tokenized: DataFrame): DataFrame =
    tokenized.filter(size(col("w")) > 0)
      .withColumn("g", GraftShims.column(
        GopherCounts(GraftShims.expression(col("w")), stopwords)))
      .withColumn("n_words", col("g.n_words"))
      .withColumn("mean_wl", col("g.letters").cast("double") / col("n_words"))
      .withColumn("n_stop", col("g.n_stop"))
      .withColumn("top_ratio", col("g.top_count").cast("double") / col("n_words"))
      .withColumn("r_wc",
        (col("n_words") >= 50 && col("n_words") <= 1000).cast("int"))
      .withColumn("r_mwl",
        (col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("int"))
      .withColumn("r_rep", (col("top_ratio") <= 0.2).cast("int"))
      .withColumn("keep",
        col("r_wc") * col("r_mwl") * col("r_stop") * col("r_rep"))
      .drop("g", "w")

  /** Deterministic train/val/test split (80/10/10): membership is a PURE
    * FUNCTION of the document id (portable-hash bucket mod 100), so the
    * split is stable under reprocessing, repartitioning, appends, and
    * engine changes — the property that prevents train/test leakage when
    * a corpus is rebuilt. Stratification across sources is statistical
    * (the hash is uniform within every source); a pipeline needing exact
    * per-source quotas uses [[stratifiedSample]]'s quota machinery
    * instead. Scan-stage, zero shuffle, no state.
    */
  def trainValTest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      (portableHash60(concat(lit("sp:"), col("doc_id").cast("string")))
        % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("source"), col("split"))

  /** BM25 retrieval scoring against a fixed query — the ranking function
    * behind every lexical search / retrieval-augmented pipeline (Robertson
    * & Spärck Jones; the Okapi formulation with k1 = 1.2, b = 0.75). For
    * each document: per-term frequency, document length, and the summed
    * BM25 score; the top `k` documents by score are returned — the exact
    * result a search engine serves for the query.
    *
    * Portability: the classic log-idf and float k1/b constants are libm /
    * FMA hazards (see [[tfidfTopTerms]]), so the score is algebraically
    * cleared of fractions. With k1 = 12/10, b = 3/4 and linear idf = N/df,
    * the per-term score
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),  avgdl = T/N
    * multiplies out to
    *   22·T·tf·N / ((10·T·tf + 3·T + 9·dl·N) · df)
    * — ONE IEEE division per term of EXACT DECIMAL(38,0) products (the
    * numerator 22·T·tf·N passes 2^63 already around 10¹⁰ corpus tokens ×
    * 10⁸ docs, and the denominator's df factor even earlier, so int64
    * would wrap silently at real corpus sizes; decimal keeps every
    * product exact to 10³⁸ and the final int→double casts are the same
    * deterministic nearest-rounding in every engine). The total is the
    * left-associated sum of the (≤ |query|) term scores in fixed query
    * order: bit-identical in any engine.
    *
    * Scale shape: term frequencies are counted IN-ROW over the token array
    * (no explode, no per-term shuffle — the query is a codegen constant);
    * the corpus statistics (T, N, per-term df) are ONE 1-row partial
    * aggregate broadcast back; the top-k is a TakeOrdered (per-partition
    * heads merged on the driver), never a global sort. The corpus never
    * shuffles, and it is TOKENIZED ONCE: `perDoc` (the narrow
    * O(docs × (2+|query|)) tf projection) is materialized eagerly
    * (localCheckpoint — the q40/ta_lm_score lesson) so the stats aggregate
    * and the scoring join both read the cached projection instead of each
    * re-running the `size(filter(w, …))` scan over the raw text. At 100 TB
    * the same holds: two consumers over a persisted narrow projection,
    * never two passes over the corpus text.
    */
  def bm25TopDocs(docs: DataFrame,
                  query: Seq[String] = Seq("spark", "join", "window"),
                  k: Int = 20): DataFrame = {
    require(query.nonEmpty, "bm25TopDocs: query must contain at least one term")
    require(query.distinct.size == query.size,
      s"bm25TopDocs: duplicate query terms: ${query.mkString(", ")}")
    val perDoc = docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) > 0)
      .select(
        col("doc_id") +: size(col("w")).cast("long").as("dl") +:
          query.map(t =>
            size(filter(col("w"), x => x === lit(t))).cast("long")
              .as(s"tf_$t")): _*)
      .localCheckpoint(true)
    val statCols = sum(col("dl")).as("tt") +: count(lit(1)).as("n") +:
      query.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    import Exact.dec
    val termScore = query.map { t =>
      val tf = col(s"tf_$t")
      val dfq = col(s"df_$t")
      when(tf === 0L || dfq === 0L, lit(0.0)).otherwise(
        (dec(lit(22L)) * dec(col("tt")) * dec(tf) * dec(col("n")))
          .cast("double") /
          ((dec(lit(10L)) * dec(col("tt")) * dec(tf)
            + dec(lit(3L)) * dec(col("tt"))
            + dec(lit(9L)) * dec(col("dl")) * dec(col("n"))) * dec(dfq))
            .cast("double"))
    }
    scored
      .withColumn("score", termScore.reduceLeft(_ + _))
      .select(col("doc_id") +: col("dl") +:
        query.map(t => col(s"tf_$t")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Simpson lexical diversity — the distribution-aware counterpart of
    * [[qualityScores]]'s type-token ratio: TTR treats "the the the cat"
    * and "big red old cat" alike once lengths match, while the Simpson
    * collision probability Σc²/T² (chance two random tokens are equal —
    * Rényi-2) rises with concentration. Exported: the collision
    * probability and its inverse T²/Σc² (the "effective vocabulary",
    * perplexity's unigram cousin) — each ONE division of exact int64
    * products, the engine-portable stand-in for entropy (log stays out of
    * the oracle-checked path; Shannon fans apply −log downstream).
    *
    * Scale shape: per-row over the distinct-token list — O(len·distinct)
    * in the scan stage, zero shuffle.
    */
  def diversityScores(docs: DataFrame): DataFrame =
    docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        aggregate(
          transform(array_distinct(col("w")),
            t => {
              val c = size(filter(col("w"), x => x === t)).cast("long")
              c * c
            }),
          lit(0L), (a, x) => a + x).as("sum_c2"))
      .select(col("doc_id"), col("n_tokens"), col("sum_c2"),
        (col("sum_c2").cast("double") / (col("n_tokens") * col("n_tokens")))
          .as("simpson"),
        ((col("n_tokens") * col("n_tokens")).cast("double") / col("sum_c2"))
          .as("eff_vocab"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", re-expressed with
    * portable integer math): score each document by how target-like its
    * hashed token distribution is, where the target is a slice of the
    * corpus itself (here `lang = targetLang`) and features are hashed
    * token buckets ([[hashingTf]]'s dictionary-free trick). Per bucket the
    * target/corpus rate ratio is the fixed-point integer
    * T[b]·10⁶ div C[b] ≤ 10⁶ (T ⊆ C, so never above scale); a document's
    * weight is the floor-mean of its tokens' bucket ratios — exact
    * integers end-to-end, no log-likelihood (the log is monotone on the
    * downstream resampling rank, applied after export if wanted).
    *
    * Scale shape: bucket statistics are ONE conditional partial aggregate
    * into `nBuckets` keys; the nBuckets-row result is collected (the
    * k-means-centroid convention — parameter-bounded, never data-sized)
    * and baked into the scoring pass as a literal lookup array, so scoring
    * is scan-stage with ZERO shuffle and the corpus is read exactly twice.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  nBuckets: Int = 64): DataFrame = {
    val bucket = (t: Column) =>
      pmod(portableHash60(concat(lit("dsir:"), t)), lit(nBuckets.toLong))
    val bcounts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy(bucket(col("t")).as("b"))
      // when(...).otherwise(0): a NULL lang makes the === NULL, and a
      // bucket whose rows are ALL null-lang would sum to NULL and NPE the
      // driver loop below — the oracle's count(*) FILTER counts 0 there
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_tgt"))
      .collect()
    val ratios = Array.fill(nBuckets)(0L)
    bcounts.foreach { r =>
      ratios(r.getLong(0).toInt) =
        r.getLong(2) * 1000000L / math.max(r.getLong(1), 1L)
    }
    val rl = typedLit(ratios.toSeq)
    docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        aggregate(
          transform(col("w"),
            t => element_at(rl, bucket(t).cast("int") + 1)),
          lit(0L), (a, x) => a + x).as("wsum"))
      .withColumn("weight_scaled", expr("wsum div n_tokens"))
  }

  /** Per-document n-gram novelty — the redundancy-aware sampling signal: a
    * document's novelty is the fraction of its DISTINCT 3-token shingles
    * whose first corpus occurrence (minimum doc_id — the same global-
    * first-wins rule as [[Dedup.paragraphDedup]]) is this document. Fresh
    * content scores 1.0; a document whose shingles all appeared earlier
    * scores 0.0 — what a curation pass downsamples. One division of exact
    * integers per document. Documents under 3 tokens have no shingles and
    * are excluded by construction (they carry no n-gram evidence either
    * way — the length-based filters handle them).
    *
    * Scale shape: per-doc distinct shingles via one (doc, shingle)
    * partial-agg distinct; first-occurrence via one shingle-keyed groupBy
    * (vocabulary-sized, SHUFFLE-joined back — never broadcast); one final
    * per-doc aggregate. Shuffle volume is O(distinct shingle occurrences),
    * the same envelope as TF-IDF.
    */
  def noveltyScores(docs: DataFrame): DataFrame = {
    val grams = docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1), element_at(col("w"), i + 2)))).as("g"))
      .distinct()
    val first = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Collocation (phrase) mining — adjacent-pair lift scoring, the
    * word2vec-phrases / PMI primitive that decides "new york" is a unit
    * and "of the" is not: lift = P(xy) / (P(x)·P(y)) over adjacent token
    * pairs, i.e. how many times more often the pair occurs than chance.
    * Pairs below `minCount` occurrences are dropped first (the standard
    * noise floor — a 5-count pair's lift is an unstable estimate), and
    * the top `k` pairs by lift are returned.
    *
    * Portability: with integer counts c(xy), c(x), c(y) and totals
    * T_uni / T_bi, lift = c(xy)·T_uni² / (T_bi·c(x)·c(y)) — both sides
    * computed as EXACT DECIMAL(38,0) products and cast to double only for
    * the ONE IEEE division (c(xy)·T_uni² wraps int64 already around 10⁷
    * corpus tokens when a stop-pair's c(xy) ≈ 10⁵ — silently in Spark's
    * non-ANSI longs, loudly in the oracle; decimal keeps both engines
    * exact to 10³⁸). log-PMI is the same ranking through a monotone map,
    * applied downstream if wanted — libm stays out of the oracle-checked
    * path.
    *
    * Scale shape: unigram and bigram counts are partial-agg groupBys
    * (map-side combine); the pair table joins the vocabulary-sized
    * unigram table on x then y — SHUFFLE joins, never broadcast (the
    * [[tfidfTopTerms]] open-vocabulary discipline); corpus totals are a
    * 1-row broadcast from a SIZE-ONLY third pass (tokenize + size, no
    * explode — deliberately NOT derived from the count aggregates: the
    * unigram exchange does get reused, but the planner duplicates the
    * bigram explode for a Σc(xy) total, which costs more than this scan);
    * top-k is TakeOrdered, never a global sort.
    */
  def collocations(docs: DataFrame, minCount: Int = 5, k: Int = 50): DataFrame = {
    val toks = docs.withColumn("w", tokens(col("text")))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("x"),
          element_at(col("w"), i + 1).as("y")))).as("b"))
      .select(col("b.x"), col("b.y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val totals = toks.agg(
      sum(size(col("w"))).as("tu"),
      sum(greatest(size(col("w")) - 1, lit(0))).as("tb"))
    import Exact.dec
    bi.join(uni.select(col("t").as("x"), col("c1").as("cx")), "x")
      .join(uni.select(col("t").as("y"), col("c1").as("cy")), "y")
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy"),
        ((dec(col("cxy")) * dec(col("tu")) * dec(col("tu"))).cast("double") /
          (dec(col("tb")) * dec(col("cx")) * dec(col("cy"))).cast("double"))
          .as("lift"))
      .orderBy(col("lift").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Term burstiness (Church–Gale): mean occurrences per CONTAINING
    * document for the top-k vocabulary — a bursty term (high
    * occurrences over few documents) is topical; an evenly-spread one
    * is functional. The signal df alone can't see, and a standard
    * feature in stopword induction and keyword weighting. One
    * division of exact counts per row; TakeOrdered top-k by
    * (occurrences DESC, token).
    */
  def burstiness(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_occur"), countDistinct(col("doc_id")).as("n_docs"))
      .select(col("t").as("token"), col("n_occur"), col("n_docs"),
        (col("n_occur").cast("double") / col("n_docs").cast("double"))
          .as("burstiness"))
      .orderBy(col("n_occur").desc, col("token"))
      .limit(k)

  /** Language-ID evaluation — the confusion matrix of [[langId]]'s
    * n-gram-marker heuristic against the labeled `lang` column, with
    * per-actual-language row shares (one division of exact counts): the
    * model-evaluation primitive that turns "we have a langid filter"
    * into a measured quality claim (the ann_recall discipline for the
    * text side). A production pipeline runs exactly this on a labeled
    * sample before trusting the filter's keep/drop decisions.
    */
  def langIdEval(docs: DataFrame): DataFrame = {
    val conf = langId(docs)
      .groupBy(col("lang_actual"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tot = conf.groupBy("lang_actual").agg(sum(col("n")).as("actual_total"))
    conf.join(broadcast(tot), "lang_actual")
      .select(col("lang_actual"), col("lang_pred"), col("n"),
        col("actual_total"),
        (col("n").cast("double") / col("actual_total").cast("double"))
          .as("share"),
        (col("lang_actual") === col("lang_pred")).as("is_correct"))
      .orderBy("lang_actual", "lang_pred")
  }

  /** Cohen's kappa for the language-ID classifier — chance-corrected
    * agreement, the scalar the eval row a confusion matrix
    * (ta_langid_eval) rolls up to: κ = (p_o − p_e)/(1 − p_e) with
    * p_e = Σ_k row_k·col_k / N². Published as the exact signed rational
    * κ_num = N·agree − Σ row·col over κ_den = N² − Σ row·col
    * (DECIMAL(38,0)-exact; N² overflows BIGINT past ~3e9 docs — the
    * widening is mechanical) plus ONE IEEE division — q159's
    * signed-quotient rule: no integral division of a signed value, the
    * engines disagree on negative truncation. Accuracy ships as
    * ⌊10⁶·agree/N⌋ (positive — integral division is safe there).
    *
    * Scale: one corpus pass to the confusion counts (bounded classes²);
    * everything after runs on that bounded table — the marginal join is
    * class-keyed, the final result one row.
    */
  def cohenKappa(docs: DataFrame): DataFrame =
    kappaFromConfusion(langId(docs)
      .groupBy(col("lang_actual"), col("lang_pred"))
      .agg(count(lit(1)).as("n")))

  /** The κ finalization over a (lang_actual, lang_pred, n) confusion
    * table — factored so the spec can drive the textbook 2×2 planted
    * matrix (κ = 0.4).
    */
  private[graft] def kappaFromConfusion(confRaw: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val conf = confRaw.localCheckpoint(true) // tiny; reused 3×
    val pe = graft.tools.Scalar.scalarRow(
      conf.groupBy(col("lang_actual").as("k")).agg(sum(col("n")).as("rt"))
        .join(conf.groupBy(col("lang_pred").as("k"))
          .agg(sum(col("n")).as("ct")), Seq("k"), "full_outer")
        .select((coalesce(col("rt"), lit(0L)).cast(big)
          * coalesce(col("ct"), lit(0L))).as("p"))
        .agg(sum(col("p")).as("pe_num")))
    val tops = graft.tools.Scalar.scalarRow(
      conf.agg(sum(col("n")).as("n_docs"),
        sum(when(col("lang_actual") === col("lang_pred"), col("n"))
          .otherwise(lit(0L))).as("n_agree")))
    tops.crossJoin(broadcast(pe))
      .select(col("n_docs"), col("n_agree"),
        expr("(1000000 * n_agree) DIV nullif(n_docs, 0)").as("acc_micro"),
        (col("n_docs").cast(big) * col("n_agree") - col("pe_num"))
          .cast("long").as("kappa_num"),
        (col("n_docs").cast(big) * col("n_docs") - col("pe_num"))
          .cast("long").as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0,
          col("kappa_num").cast("double") / col("kappa_den").cast("double")))
  }

  /** Per-source percentile calibration — the score-normalization pass a
    * curation pipeline runs before mixing sources: a raw quality proxy
    * (here the exact token count) is replaced by its PERCENTILE WITHIN
    * ITS SOURCE (share of the source's docs strictly below — one IEEE
    * division of exact counts), so "keep the top 30%" means the same
    * thing in every source regardless of scale differences (a threshold
    * on the raw score silently keeps 5% of one source and 60% of
    * another — the calibration bug this op exists to prevent).
    *
    * Scale: the value-count table is DISTINCT (source, score) rows (the
    * q89 vc-exchange shape), windows run over it (never the corpus),
    * and docs join back via broadcast.
    */
  def rankNormalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).as("score"))
    val vc = scored.groupBy("source", "score").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("source")
    val ranked = vc.withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(whole))
      .select(col("source"), col("score"),
        ((col("cum") - col("c")).cast("double") / col("n").cast("double"))
          .as("pct_below"))
    scored.join(broadcast(ranked), Seq("source", "score"))
      .select("doc_id", "source", "score", "pct_below")
  }

  /** Zipf rank-frequency profile — the corpus-health audit behind
    * vocabulary-distribution checks (a crawled corpus whose head
    * diverges from rank·freq ≈ const is dominated by boilerplate; a
    * truncated tail signals over-aggressive dedup): the top-k vocabulary
    * by (count DESC, token) with each token's EXACT rank·freq product
    * (Zipf's law says it is ~constant) and its ratio to the rank-1
    * frequency (one IEEE division of exact integers — a log-log
    * regression would be libm-bound and never bit-match).
    *
    * Scale: one partial-agg shuffle over the open vocabulary, TakeOrdered
    * top-k (never a global sort), and a k-bounded driver collect (the
    * ivf-codebook convention) to assign ranks — the corpus itself is
    * scanned once.
    */
  def zipfProfile(docs: DataFrame, k: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val top = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(k)
      .collect()
    val c1 = top.headOption.map(_.getLong(1)).getOrElse(1L)
    top.toSeq.zipWithIndex.map { case (r, i) =>
      val rank = (i + 1).toLong
      val f = r.getLong(1)
      (rank, r.getString(0), f, rank * f, (rank * f).toDouble / c1.toDouble)
    }.toDF("rank", "token", "freq", "rf", "rf_norm")
  }

  /** Vocabulary-frequency profile — the corpus-growth health check next
    * to [[zipfProfile]]'s head view: total tokens, vocabulary size
    * (types), hapax/dis legomena counts (words seen once/twice — a
    * healthy natural corpus keeps hapax/vocab near ~0.5; far below
    * signals template spam, far above signals OCR noise or tokenizer
    * breakage), and type-token ratio, all per language bucket. Ratios
    * publish at the exact micro grain.
    *
    * Scale: one tokenize+explode scan, one (lang, word) partial-agg
    * shuffle (open vocabulary — shuffled, never broadcast), then a
    * lang-keyed rollup over the frequency histogram.
    */
  def hapaxProfile(docs: DataFrame): DataFrame =
    hapaxFromFreq(docs
      .select(col("lang"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f")))

  /** The profile finalization over a (lang, w, f) frequency grid — the
    * single definition ta_hapax and st_hapax share (the stream folds
    * the open-vocabulary counts, the st_chi2 precedent; this finalize
    * is vocabulary-sized).
    */
  def hapaxFromFreq(freq: DataFrame): DataFrame = {
    freq.groupBy("lang")
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
        col("dis"),
        expr("CAST((hapax * 1000000) div vocab AS BIGINT)")
          .as("hapax_ratio_micro"),
        expr("CAST((vocab * 1000000) div n_tokens AS BIGINT)")
          .as("ttr_micro"))
      .orderBy("lang")
  }

  /** Hashed term-frequency features (the HashingTF / feature-hashing
    * vectorizer of Weinberger et al.): each term maps to one of `nBuckets`
    * buckets by portable hash, and each document becomes its sparse
    * (bucket, count) histogram — the fixed-dimension representation linear
    * text classifiers and quality models train on, with no vocabulary
    * dictionary to build, ship, or keep consistent across a 100 TB corpus
    * (that dictionary-free property is the whole point at scale).
    *
    * Scale shape: the histogram is built IN-ROW — bucket each token with
    * the codegen'd md5-prefix hash, then count each distinct bucket over
    * the row's own array (O(len · distinct-buckets) ≤ O(len · nBuckets)
    * per row, bounded) — and exploded to sparse rows in the same scan
    * stage: ZERO shuffle, no aggregation anywhere; the classic
    * explode+groupBy twin costs a corpus-sized exchange keyed by doc_id
    * for identical output. Zero-count buckets are omitted (sparse form).
    */
  def hashingTf(docs: DataFrame, nBuckets: Int = 64): DataFrame =
    docs.withColumn("w", tokens(col("text")))
      .filter(size(col("w")) > 0)
      .withColumn("b", transform(col("w"), t =>
        pmod(portableHash60(concat(lit("htf:"), t)), lit(nBuckets.toLong))))
      .select(col("doc_id"), explode(transform(
        array_sort(array_distinct(col("b"))),
        bk => struct(bk.cast("int").as("bucket"),
          size(filter(col("b"), x => x === bk)).cast("long").as("tf"))))
        .as("e"))
      .select(col("doc_id"), col("e.bucket"), col("e.tf"))

  /** Flesch-style readability per source — the curation signal that
    * separates legalese from children's prose. The three raw counts are
    * exact integers with regex conventions BOTH engines state
    * identically: words = [[tokens]] (non-letter splits); sentences =
    * maximal [.!?]+ runs, floored at 1 per doc; syllables = maximal
    * [aeiouy]+ vowel groups of the lowercased text (the standard
    * heuristic; lower() emits no literal 'V', so marking groups with
    * 'V' and counting survivors is alias-free). The published score is
    * IEEE arithmetic over the two ratios in a FIXED expression order —
    * 206.835 − 1.015·wps − 84.6·spw, constants embedded as the same
    * doubles on both sides (the q101 string-quoting lesson) — so the
    * result is bit-identical, never "approximately Flesch".
    *
    * Scale: pure scan-stage per-doc arithmetic folded by one
    * sources-sized partial agg — no joins, no windows, no explode (the
    * vowel-group count is a length difference, not a token
    * materialization).
    */
  def readability(docs: DataFrame): DataFrame = {
    val sentMark = regexp_replace(col("text"), "[.!?]+", "\u0002")
    val vowelMark = regexp_replace(lower(col("text")), "[aeiouy]+", "V")
    val perDoc = docs.select(
      col("source"),
      size(tokens(col("text"))).cast("long").as("words"),
      greatest(lit(1L),
        (length(sentMark) - length(translate(sentMark, "\u0002", "")))
          .cast("long")).as("sents"),
      (length(vowelMark) - length(translate(vowelMark, "V", "")))
        .cast("long").as("sylls"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("words").as("n_words"),
        sum("sents").as("n_sentences"), sum("sylls").as("n_syllables"))
      .withColumn("words_per_sentence",
        col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("syllables_per_word",
        when(col("n_words") > 0,
          col("n_syllables").cast("double") / col("n_words").cast("double")))
      .withColumn("flesch",
        when(col("n_words") > 0,
          lit(206.835) - lit(1.015) * col("words_per_sentence")
            - lit(84.6) * col("syllables_per_word")))
      .orderBy("source")
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase method a corpus-exploration pass runs before any model:
    * candidate phrases are maximal runs of consecutive NON-stopword
    * tokens (the stopword-delimited variant; the shared [[stopwords]]
    * list is the delimiter set), capped at 4 words; each word scores
    * degree (Σ length of phrases containing it, occurrence-wise) over
    * frequency, and a phrase scores deg-sum/freq-sum — the AGGREGATE
    * ratio form, ONE division of exact BIGINT sums (the per-word
    * deg/freq sum of the original paper is an order-dependent float
    * sum; the aggregate form ranks the same signal and hash-gates).
    * Top-k by (score, phrase) total order.
    *
    * Scale: candidates are a bounded per-doc explode (phrases ≤ tokens);
    * word stats one partial agg over the vocabulary; the phrase join is
    * vocabulary-sized. The twice-consumed candidate set is
    * localCheckpointed — the ta_bm25 lesson.
    */
  def rakeKeywords(docs: DataFrame, topK: Int = 50): DataFrame =
    rakeFromCandidates(
      candidatePhrases(docs).groupBy("phrase")
        .agg(count(lit(1)).as("n_occ")),
      topK)

  /** Stopword-delimited candidate phrases (≤ 4 words) — STATELESS
    * per-document transforms only, so the same derivation runs over a
    * document STREAM (st_rake) unchanged. */
  private[graft] def candidatePhrases(docs: DataFrame): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    docs
      .withColumn("w", tokens(lower(col("text"))))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("w"),
          x => when(array_contains(sw, x), lit("|")).otherwise(x)))
          .as("s"))
      .select(col("doc_id"), explode(split(col("s"), "\\|")).as("p"))
      .select(col("doc_id"), trim(col("p")).as("phrase"))
      .filter(col("phrase") =!= "")
      .filter(size(split(col("phrase"), " ")) <= 4)
  }

  /** The RAKE scoring over a (phrase, n_occ) candidate rollup — the
    * single definition q-side rakeKeywords and st_rake share. Word
    * stats re-derive from the PHRASE STRINGS weighted by occurrence
    * counts, which is exactly the per-instance aggregation (a word's
    * freq = Σ over phrases containing it of n_occ · its count in the
    * phrase, deg likewise with the phrase length) — so the phrase-level
    * rollup is the only corpus-sized reduction.
    */
  private[graft] def rakeFromCandidates(candOcc0: DataFrame,
                                        topK: Int = 50): DataFrame = {
    val candOcc = candOcc0.localCheckpoint(true) // three consumers
    val words = candOcc
      .withColumn("pw", split(col("phrase"), " "))
      .select(explode(col("pw")).as("word"),
        size(col("pw")).as("plen"), col("n_occ"))
    val wstat = words.groupBy("word")
      .agg(sum(col("n_occ")).as("freq"),
        sum(col("n_occ") * col("plen")).as("deg"))
    val pwords = candOcc
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
    val pscore = pwords.join(wstat, "word")
      .groupBy("phrase")
      .agg(sum(col("deg")).as("deg_sum"), sum(col("freq")).as("freq_sum"))
    candOcc.join(pscore, "phrase")
      .select(col("phrase"), col("n_occ"), col("deg_sum"), col("freq_sum"),
        (col("deg_sum").cast("double") / col("freq_sum").cast("double"))
          .as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
      .limit(topK)
  }

  /** TextRank keywords (Mihalcea & Tarau 2004) — PageRank over the word
    * adjacency graph, the graph-centrality complement of ta_rake's
    * statistical scoring: candidate words are the stopword-filtered
    * token stream, edges are DISTINCT adjacent pairs (symmetrized,
    * self-loops dropped), and the rank is q39's EXACT fixed-point
    * integer PageRank (scale 10⁹, integer div, 5 rounds) so every
    * score is a hash-gateable BIGINT — never a float power iteration.
    * Top-30 by (rank, word) total order.
    *
    * Scale: adjacency is one bounded explode of the token stream; each
    * round is one ranks ⋈ edges shuffle (O(E)) like q39/q107; the
    * vocabulary-sized node list is the only driver count.
    */
  def textrank(docs: DataFrame, topK: Int = 30): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    val toks = docs.select(
      filter(tokens(lower(col("text"))),
        x => !array_contains(sw, x)).as("w"))
      .filter(size(col("w")) >= 2)
    val adj = toks
      .select(explode(sequence(lit(1), size(col("w")) - 1)).as("i"),
        col("w"))
      .select(element_at(col("w"), col("i")).as("a"),
        element_at(col("w"), col("i") + lit(1)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val edges = adj.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(adj.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nNodes = deg.count() // bounded: the vocabulary node list
    require(nNodes > 0,
      "ta_textrank: the word adjacency graph is empty")
    val scale = 1000000000L
    val teleport = (scale * 15L / 100L) / nNodes
    var ranks = deg.select(col("src").as("node"), col("deg"),
      lit(scale / nNodes).as("rank"))
    for (_ <- 0 until 5) {
      val contrib = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("rank div deg").as("share"))
        .groupBy("dst")
        .agg(sum(col("share")).as("inflow"))
      ranks = deg.join(contrib, col("src") === col("dst"), "left")
        .select(col("src").as("node"), col("deg"),
          (lit(teleport) +
            expr("(85 * coalesce(inflow, 0)) div 100")).as("rank"))
    }
    ranks
      .select(col("node").as("word"), col("deg").as("degree"),
        col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(topK)
  }

  /** Exact phrase search over positional postings — the IR twin of the
    * MR inverted index (`mr_inverted_index` stops at doc lists; a phrase
    * query needs POSITIONS). Per matching document: occurrence count and
    * the first match position (0-based token offset).
    *
    * Shape: postings are generated ONLY for the phrase's terms — the
    * `isin` filter rides the scan-stage posexplode, so the index volume
    * entering the joins is O(Σ df(term)), not O(corpus tokens). Each
    * subsequent word joins equi-keyed on (doc_id, start) with start
    * normalized to the phrase head (pos − offset): adjacency becomes key
    * EQUALITY, one hash shuffle per word on an already-selective side —
    * the standard positional-intersection plan, no windows, no
    * cartesian. Skew bound: a phrase of stopwords degrades to the most
    * frequent term's df, exactly like any posting-list intersection.
    */
  def phraseSearch(docs: DataFrame,
                   phrase: Seq[String] = Seq("merge", "join")): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase: _*))
    val first = toks.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("start"))
    val matches = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(
          toks.filter(col("term") === w)
            .select(col("doc_id"), (col("pos") - i).as("start")),
          Seq("doc_id", "start"))
    }
    matches.groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** The SCAN form of [[phraseSearch]]: adjacency tested row-locally with
    * higher-order functions (filter over the 0..len−k position range) —
    * zero joins, zero shuffles, so it streams statelessly (st_phrase) and
    * wins whenever the query set isn't amortized over a materialized
    * postings index. Same output contract as the index form; the
    * differential spec proves them equal on the real corpus, and the
    * streaming twin shares ta_phrase's oracle verbatim.
    */
  def phraseSearchScan(docs: DataFrame,
                       phrase: Seq[String] = Seq("merge", "join")): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchScan: empty phrase")
    val k = phrase.size
    val w = tokens(col("text"))
    val starts = when(size(w) >= k,
      filter(sequence(lit(0), size(w) - k), i =>
        phrase.zipWithIndex.map { case (p, j) =>
          element_at(w, i + lit(j + 1)) === lit(p)
        }.reduce(_ && _)))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), starts.as("m"))
      .filter(size(col("m")) > 0)
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_occurrences"),
        element_at(col("m"), 1).cast("long").as("first_pos"))
  }

  /** Typo-tolerant term search — a corrupted "query log" (every frequent
    * corpus term with one deterministically-chosen character deleted)
    * resolved back against the vocabulary at Levenshtein distance ≤ 1,
    * by the SymSpell deletion-neighborhood trick instead of all-pairs
    * edit distance. Each string on BOTH sides emits {itself} ∪ {every
    * single-character deletion}; two strings at distance ≤ 1 are
    * GUARANTEED to share a variant key (equal: the string itself;
    * insert/delete: one IS the other's deletion; substitute: deleting
    * the differing position from each yields the same string), so an
    * equi-join on the variant finds every candidate and the exact
    * `levenshtein ≤ 1` check removes what the key over-generates (shared
    * deletions at different positions and transpositions are distance
    * 2). The query side is derived from the vocab in-engine (delete at
    * position `portableHash60("fz:" ∥ term) mod len`), so the oracle can
    * rebuild the identical log in SQL — no fixture files.
    *
    * Scale: the join is keyed by variant string — O(len) keys per term,
    * one selective hash shuffle, NEVER the O(Q·V) cross product (the
    * DuckDB oracle computes exactly that brute force, so the gate is a
    * real scale-path ≡ baseline equivalence). Variant-key fan-out is
    * bounded by how many strings collapse to one deletion — dozens, not
    * corpus-scale. Vocab bounds (ASCII a-z, length 4–12, count ≥ 5)
    * keep char-vs-codepoint semantics identical across engines and are
    * the documented knobs, not correctness conditions.
    */
  def fuzzySearch(docs: DataFrame): DataFrame = {
    import graft.functions.hashes.portableHash60
    val vocab = docs
      .select(explode(tokens(col("text"))).as("t"))
      .select(lower(col("t")).as("term"))
      .filter(col("term").rlike("^[a-z]+$") &&
        length(col("term")).between(4, 12))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
    val queries = vocab
      .select(col("term").as("src"),
        (pmod(portableHash60(concat(lit("fz:"), col("term"))),
          length(col("term")).cast("long")) + 1).cast("int").as("p"))
      .select(expr("concat(substring(src, 1, p - 1), " +
        "substring(src, p + 1, length(src)))").as("query"))
      .distinct()
    def deletionVariants(s: String): Column =
      explode(array_distinct(concat(array(col(s)), expr(
        s"transform(sequence(1, length($s)), i -> " +
          s"concat(substring($s, 1, i - 1), " +
          s"substring($s, i + 1, length($s))))"))))
    val qv = queries.select(col("query"), deletionVariants("query").as("v"))
    val tv = vocab.select(col("term"), col("cnt"),
      deletionVariants("term").as("v"))
    qv.join(tv, "v")
      .select(col("query"), col("term"), col("cnt"))
      .distinct() // a pair can collide on several variant keys
      .withColumn("dist", levenshtein(col("query"), col("term")))
      .filter(col("dist") <= 1)
      .orderBy("query", "term")
      .limit(500)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_fuzzy_search" -> ((s, d) =>
      fuzzySearch(Tables.load(s, d, "documents"))),
    "ta_kneser_ney" -> ((s, d) =>
      kneserNey(Tables.load(s, d, "documents"))),
    "ta_phrase" -> ((s, d) =>
      phraseSearch(Tables.load(s, d, "documents"))),
    "ta_textrank" -> ((s, d) =>
      textrank(Tables.load(s, d, "documents"))),
    "ta_rake" -> ((s, d) =>
      rakeKeywords(Tables.load(s, d, "documents"))),
    "ta_bm25" -> ((s, d) =>
      bm25TopDocs(Tables.load(s, d, "documents"))),
    "ta_colloc" -> ((s, d) =>
      collocations(Tables.load(s, d, "documents"))),
    "ta_zipf" -> ((s, d) =>
      zipfProfile(Tables.load(s, d, "documents")).orderBy("rank")),
    "ta_hapax" -> ((s, d) =>
      hapaxProfile(Tables.load(s, d, "documents"))),
    "ta_burstiness" -> ((s, d) =>
      burstiness(Tables.load(s, d, "documents"))),
    "ta_rank_normalize" -> ((s, d) =>
      rankNormalize(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_kappa" -> ((s, d) =>
      cohenKappa(Tables.load(s, d, "documents"))),
    "ta_langid_eval" -> ((s, d) =>
      langIdEval(Tables.load(s, d, "documents"))),
    "ta_diversity" -> ((s, d) =>
      diversityScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_dsir" -> ((s, d) =>
      dsirWeights(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_novelty" -> ((s, d) =>
      noveltyScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_hashing_tf" -> ((s, d) =>
      hashingTf(Tables.load(s, d, "documents")).orderBy("doc_id", "bucket")),
    "ta_split" -> ((s, d) =>
      trainValTest(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_weighted_sample" -> ((s, d) =>
      weightedSample(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_distinctive" -> ((s, d) =>
      distinctiveWords(Tables.load(s, d, "documents"))),
    "ta_chi2" -> ((s, d) =>
      chi2Terms(Tables.load(s, d, "documents"))),
    "ta_gopher" -> ((s, d) =>
      gopherRules(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_rolling_hash" -> ((s, d) =>
      rollingHashes(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_curation" -> ((s, d) =>
      curation(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_repetition" -> ((s, d) =>
      repetitionScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_pii_scrub" -> ((s, d) =>
      piiScrub(Tables.load(s, d, "documents")).orderBy("doc_id")),
    // materialize eagerly (both consumers read the gram cache during the
    // checkpoint), then release the cache entry — a Verify+Bench run must
    // not leave one pinned per invocation
    "ta_boilerplate" -> ((s, d) => {
      val (scored, grams) =
        boilerplateScoresManaged(Tables.load(s, d, "documents"))
      val out = scored.orderBy("doc_id").localCheckpoint(true)
      grams.unpersist(false)
      out
    }),
    "ta_token_stats" -> ((s, d) =>
      tokenStats(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_bpe_tokens" -> ((s, d) =>
      bpeTokenCounts(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_bpe_vocab" -> ((s, d) =>
      bpeVocab(Tables.load(s, d, "documents")).orderBy("rank")),
    "ta_bpe_apply" -> ((s, d) =>
      bpeApply(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_mixture" -> ((s, d) =>
      stratifiedSample(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_quality" -> ((s, d) =>
      qualityScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_quality_score" -> ((s, d) =>
      qualityModelScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_langid" -> ((s, d) =>
      langId(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_readability" -> ((s, d) =>
      readability(Tables.load(s, d, "documents"))),
    "ta_fingerprint" -> ((s, d) =>
      fingerprints(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_tfidf" -> ((s, d) =>
      tfidfTopTerms(Tables.load(s, d, "documents")).orderBy("doc_id", "rank")),
    "ta_lm_score" -> ((s, d) =>
      lmScores(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_pack" -> ((s, d) =>
      packSequences(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_source_cap" -> ((s, d) =>
      sourceCap(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_shard" -> ((s, d) =>
      shuffleShards(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "ta_ppl_buckets" -> ((s, d) =>
      pplBuckets(Tables.load(s, d, "documents"))),
    "ta_hash_infer" -> ((s, d) =>
      hashClassifierScores(Tables.load(s, d, "documents"))),
    "ta_rater_agreement" -> ((s, d) =>
      raterAgreement(Tables.load(s, d, "documents"))),
    "ta_temperature_mix" -> ((s, d) =>
      temperatureMix(Tables.load(s, d, "documents"))),
    "ta_chunk_plan" -> ((s, d) =>
      chunkPlan(Tables.load(s, d, "documents"))),
    "ta_url_canon" -> ((s, d) =>
      urlCanon(Tables.load(s, d, "documents"))),
  )

  private val W = "list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> x <> '')"

  /** DuckDB replay of [[bpeVocab]]'s merge loop, UNROLLED to `nMerges`
    * chained CTE stages (recursive CTEs cannot re-aggregate the recursive
    * table per level, but a fixed iteration count needs no recursion):
    * stage i counts adjacent symbol pairs of the stage-(i−1) states, picks
    * the same (count desc, lhs, rhs) argmax, and applies the same wrapped
    * string replace. If some stage finds no pair (fully merged corpus),
    * its best CTE is empty, every later stage's cross join collapses to
    * empty, and the union simply has fewer rows — exactly matching the
    * Spark loop's early exit.
    */
  /** The shared merge-learning CTE chain (w0..wN states, b1..bN argmax
    * merges) used by both the vocab and apply oracles.
    */
  private def bpeMergeCtes(nMerges: Int): String = {
    val S = SEP
    val sb = new StringBuilder
    sb ++= s"""w0 AS (
              |  SELECT '$S' || array_to_string(string_split(word, ''), '$S$S') || '$S'
              |           AS state,
              |         CAST(count(*) AS BIGINT) AS freq
              |  FROM (SELECT unnest($W) AS word FROM documents)
              |  GROUP BY word)""".stripMargin
    for (i <- 1 to nMerges) {
      sb ++= s""",
                |p$i AS (
                |  SELECT split_part(p, '$S', 1) AS l, split_part(p, '$S', 2) AS r, freq
                |  FROM (
                |    SELECT unnest([s[j] || '$S' || s[j+1] FOR j IN range(1, len(s))]) AS p,
                |           freq
                |    FROM (SELECT string_split(trim(state, '$S'), '$S$S') AS s, freq
                |          FROM w${i - 1})
                |    WHERE len(s) >= 2)),
                |c$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
                |        FROM p$i GROUP BY 1, 2),
                |b$i AS (SELECT l, r, cnt FROM c$i ORDER BY cnt DESC, l, r LIMIT 1),
                |w$i AS (SELECT replace(state, '$S' || l || '$S$S' || r || '$S',
                |                       '$S' || l || r || '$S') AS state, freq
                |        FROM w${i - 1}, b$i)""".stripMargin
    }
    sb.result()
  }

  private def bpeVocabOracle(nMerges: Int): String =
    "WITH " + bpeMergeCtes(nMerges) +
      (1 to nMerges).map { i =>
        s"""SELECT CAST($i AS INTEGER) AS rank, l AS lhs, r AS rhs,
           |  l || r AS merged, cnt AS pair_count FROM b$i""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "\nORDER BY rank")

  /** DuckDB replay of [[bpeApply]]: the same learned merges (b1..bN)
    * applied in rank order to every document's wrapped word states, then
    * symbols counted per document. `LEFT JOIN bI ON TRUE` keeps documents
    * intact if a merge stage ran dry (mirroring the Spark fold over the
    * collected — possibly shorter — merge table).
    */
  private def bpeApplyOracle(nMerges: Int): String = {
    val S = SEP
    val d = new StringBuilder
    d ++= s""",
             |d0 AS (
             |  SELECT doc_id,
             |    '$S' || array_to_string(string_split(word, ''), '$S$S') || '$S' AS state
             |  FROM (SELECT doc_id, unnest($W) AS word FROM documents))""".stripMargin
    for (i <- 1 to nMerges) {
      d ++= s""",
               |d$i AS (
               |  SELECT doc_id,
               |    CASE WHEN l IS NULL THEN state
               |         ELSE replace(state, '$S' || l || '$S$S' || r || '$S',
               |                      '$S' || l || r || '$S') END AS state
               |  FROM d${i - 1} LEFT JOIN b$i ON TRUE)""".stripMargin
    }
    "WITH " + bpeMergeCtes(nMerges) + d.result() +
      s"""
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(string_split(trim(state, '$S'), '$S$S'))) AS BIGINT)
         |    AS n_bpe_symbols
         |FROM d$nMerges GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // the Rabin-Karp fold, replayed over code points (== UTF-8 bytes for
  // this ASCII corpus) with the same base/modulus
  private def polyFold(e: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($e, ''), x -> CAST(ascii(x) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** The BM25 oracle's shared CTE chain (t per-doc tfs, s corpus stats,
    * lexall scored docs) — reused verbatim by [[Similarity]]'s hybrid-RRF
    * oracle so the two lexical replays cannot drift.
    */
  private[operators] val bm25OracleCtes: String =
    s"""t AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
       |    CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf_spark,
       |    CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_join,
       |    CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf_window
       |  FROM (SELECT doc_id, $W AS w FROM documents)
       |  WHERE len(w) > 0),
       |s AS (
       |  SELECT CAST(sum(dl) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (tf_spark > 0) AS BIGINT) AS df_spark,
       |    CAST(count(*) FILTER (tf_join > 0) AS BIGINT) AS df_join,
       |    CAST(count(*) FILTER (tf_window > 0) AS BIGINT) AS df_window
       |  FROM t),
       |lexall AS (
       |SELECT doc_id, dl, tf_spark, tf_join, tf_window,
       |  (CASE WHEN tf_spark = 0 OR df_spark = 0 THEN 0.0
       |        ELSE CAST(CAST(22 AS HUGEINT) * tt * tf_spark * n AS DOUBLE)
       |           / CAST((CAST(10 AS HUGEINT) * tt * tf_spark
       |                   + CAST(3 AS HUGEINT) * tt
       |                   + CAST(9 AS HUGEINT) * dl * n)
       |                  * df_spark AS DOUBLE) END)
       |  + (CASE WHEN tf_join = 0 OR df_join = 0 THEN 0.0
       |          ELSE CAST(CAST(22 AS HUGEINT) * tt * tf_join * n AS DOUBLE)
       |             / CAST((CAST(10 AS HUGEINT) * tt * tf_join
       |                     + CAST(3 AS HUGEINT) * tt
       |                     + CAST(9 AS HUGEINT) * dl * n)
       |                    * df_join AS DOUBLE) END)
       |  + (CASE WHEN tf_window = 0 OR df_window = 0 THEN 0.0
       |          ELSE CAST(CAST(22 AS HUGEINT) * tt * tf_window * n AS DOUBLE)
       |             / CAST((CAST(10 AS HUGEINT) * tt * tf_window
       |                     + CAST(3 AS HUGEINT) * tt
       |                     + CAST(9 AS HUGEINT) * dl * n)
       |                    * df_window AS DOUBLE) END) AS score
       |FROM t, s)""".stripMargin

  def oracle: Map[String, String] = {
    val base: Map[String, String] = Map(
    // ta_url_canon: the identical messy-url derivation, then the mirrored
    // canonicalization — DuckDB regexp_replace needs the explicit 'g'
    // flag where Spark's is global-by-default, backrefs are \1 vs $1,
    // and the empty-query seam takes the mirrored CASE (array_to_string
    // of an empty list is NULL in DuckDB, '' in Spark)
    "ta_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
        |    || '.Example.COM'
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/' || lang
        |    || (CASE WHEN doc_id % 5 = 0 THEN '//' ELSE '/' END)
        |    || 'doc' || CAST(doc_id // 7 AS VARCHAR)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0
        |          THEN '?utm_source=feed&id='
        |               || CAST((doc_id // 7) % 100 AS VARCHAR)
        |          ELSE '?id=' || CAST((doc_id // 7) % 100 AS VARCHAR)
        |               || '&utm_campaign=x' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || lang ELSE '' END)
        |      AS url
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM raw),
        |p2 AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(regexp_extract(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |      ':(443|80)$', '')) AS host,
        |    regexp_replace(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, host,
        |    regexp_replace(regexp_replace(regexp_extract(rest,
        |      '^([^?]*)', 1), '/{2,}', '/', 'g'), '(.)/$', '\1') AS path,
        |    list_sort(list_filter(string_split(
        |      regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      p -> substr(p, 1, 4) <> 'utm_' AND p <> '')) AS kept
        |  FROM p2),
        |canon AS (
        |  SELECT doc_id,
        |    'https://' || host
        |    || (CASE WHEN path = '' THEN '/' ELSE path END)
        |    || (CASE WHEN len(kept) > 0
        |          THEN '?' || array_to_string(kept, '&') ELSE '' END)
        |      AS canonical_url
        |  FROM p3)
        |SELECT canonical_url, count(*) AS n_variants,
        |  min(doc_id) AS keeper_doc
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,
    // ta_kneser_ney: the same exact fraction — HUGEINT mirrors
    // DECIMAL(38,0), greatest() handles the d-discount floor, one
    // integral division; bigrams via the positional list idiom
    "ta_kneser_ney" ->
      s"""WITH t AS (SELECT $W AS ws FROM documents),
         |bg AS (SELECT ws[i] AS v, ws[i + 1] AS w
         |       FROM (SELECT ws, unnest(range(1, len(ws))) AS i
         |             FROM t WHERE len(ws) >= 2)),
         |bc AS (SELECT v, w, count(*) AS c_vw FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT v, sum(c_vw) AS c_v, count(*) AS n1p_fwd
         |        FROM bc GROUP BY 1),
         |cont AS (SELECT w, count(*) AS n1p_back FROM bc GROUP BY 1),
         |nb AS (SELECT count(*) AS n_bigrams FROM bc)
         |SELECT bc.v, bc.w, CAST(c_vw AS BIGINT) AS c_vw,
         |  CAST(c_v AS BIGINT) AS c_v,
         |  CAST((CAST(1000000000000 AS HUGEINT)
         |        * (greatest(4 * c_vw - 3, 0) * CAST(n_bigrams AS HUGEINT)
         |           + 3 * CAST(n1p_fwd AS HUGEINT) * n1p_back))
         |       // (4 * CAST(c_v AS HUGEINT) * n_bigrams) AS BIGINT)
         |    AS pkn_pico
         |FROM bc JOIN ctx USING (v) JOIN cont USING (w), nb
         |ORDER BY pkn_pico DESC, v, w LIMIT 50""".stripMargin,
    // ta_fuzzy_search: brute-force baseline — the identically-derived
    // corrupted query log crossed with the whole vocab (banded by the
    // |len diff| <= 1 implication of distance <= 1), exact levenshtein.
    // Equal answers <=> the deletion-neighborhood join found EXACTLY the
    // distance-<=1 matches, neither missing a candidate key nor keeping
    // a distance-2 collision
    "ta_fuzzy_search" ->
      s"""WITH tok AS (
         |  SELECT lower(t) AS term
         |  FROM (SELECT unnest($W) AS t FROM documents)
         |  WHERE regexp_full_match(lower(t), '[a-z]+')
         |    AND len(t) BETWEEN 4 AND 12),
         |vocab AS (SELECT term, count(*) AS cnt FROM tok
         |          GROUP BY 1 HAVING count(*) >= 5),
         |q AS (
         |  SELECT DISTINCT
         |    concat(substr(term, 1, p - 1), substr(term, p + 1, len(term)))
         |      AS query
         |  FROM (SELECT term,
         |          CAST(CAST(concat('0x', substr(md5('fz:' || term), 1, 15))
         |            AS BIGINT) % len(term) AS INTEGER) + 1 AS p
         |        FROM vocab))
         |SELECT q.query, v.term, CAST(v.cnt AS BIGINT) AS cnt,
         |  CAST(levenshtein(q.query, v.term) AS INTEGER) AS dist
         |FROM q JOIN vocab v
         |  ON len(v.term) BETWEEN len(q.query) - 1 AND len(q.query) + 1
         |  AND levenshtein(q.query, v.term) <= 1
         |ORDER BY query, term LIMIT 500""".stripMargin,
    // ta_phrase: the oracle tests the three adjacent words per position
    // via the list-comprehension idiom (out-of-range w[i+k] is NULL in
    // DuckDB, so no explicit length guard is needed); positions are
    // 1-based in DuckDB lists vs the 0-based posexplode — hence i - 1
    "ta_phrase" ->
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |occ AS (SELECT doc_id,
         |          unnest([i - 1 FOR i IN range(1, len(w) + 1)
         |                  IF w[i] = 'merge' AND w[i + 1] = 'join']) AS start
         |        FROM t)
         |SELECT doc_id, count(*) AS n_occurrences,
         |  CAST(min(start) AS BIGINT) AS first_pos
         |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ta_textrank: q39's unrolled fixed-point iterations on the word
    // adjacency graph — every rank an exact BIGINT
    "ta_textrank" -> {
      def it(k: Int): String =
        s"""it$k AS (
           |  SELECT d.src AS node, d.deg,
           |    CAST(150000000 AS BIGINT) // (SELECT n FROM n)
           |      + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst, sum(r.rank // r.deg) AS inflow
           |    FROM it${k - 1} r JOIN edges e ON r.node = e.src
           |    GROUP BY 1) f ON d.src = f.dst)""".stripMargin
      s"""WITH t AS (
         |  SELECT list_filter(
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                x -> x <> ''),
         |    x -> x NOT IN ('the','a','of','and','to','in')) AS w
         |  FROM documents),
         |t2 AS (SELECT w FROM t WHERE len(w) >= 2),
         |ap AS (
         |  SELECT w[i] AS a, w[i + 1] AS b
         |  FROM (SELECT w, generate_subscripts(w, 1) AS i FROM t2)
         |  WHERE i < len(w) AND w[i] <> w[i + 1]),
         |und AS (SELECT DISTINCT a, b FROM ap),
         |edges AS (SELECT a AS src, b AS dst FROM und
         |          UNION SELECT b, a FROM und),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM deg),
         |it0 AS (SELECT src AS node, deg,
         |          CAST(1000000000 AS BIGINT) // (SELECT n FROM n) AS rank
         |        FROM deg),
         |${(1 to 5).map(it).mkString(",\n")}
         |SELECT node AS word, CAST(deg AS BIGINT) AS degree,
         |  CAST(rank AS BIGINT) AS rank_scaled
         |FROM it5 ORDER BY rank_scaled DESC, word LIMIT 30""".stripMargin
    },
    // ta_rake: the same stopword-delimited candidate extraction and
    // aggregate deg-sum/freq-sum ratio — one division of exact sums
    "ta_rake" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |                x -> x <> '') AS w
         |  FROM documents),
         |marked AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(w,
         |      x -> CASE WHEN x IN ('the','a','of','and','to','in')
         |           THEN '|' ELSE x END), ' ') AS s
         |  FROM toks),
         |phr AS (
         |  SELECT doc_id, trim(p) AS phrase
         |  FROM marked, unnest(string_split(s, '|')) AS t(p)
         |  WHERE trim(p) <> ''),
         |cand AS (
         |  SELECT doc_id, phrase, string_split(phrase, ' ') AS pw
         |  FROM phr WHERE len(string_split(phrase, ' ')) <= 4),
         |words AS (
         |  SELECT unnest(pw) AS word, len(pw) AS plen FROM cand),
         |wstat AS (
         |  SELECT word, count(*) AS freq, sum(plen) AS deg
         |  FROM words GROUP BY 1),
         |pwords AS (
         |  SELECT phrase, unnest(string_split(phrase, ' ')) AS word
         |  FROM (SELECT DISTINCT phrase FROM cand)),
         |pscore AS (
         |  SELECT phrase, sum(w.deg) AS deg_sum, sum(w.freq) AS freq_sum
         |  FROM pwords p JOIN wstat w USING (word) GROUP BY 1),
         |occ AS (SELECT phrase, count(*) AS n_occ FROM cand GROUP BY 1)
         |SELECT o.phrase, o.n_occ, CAST(deg_sum AS BIGINT) AS deg_sum,
         |  CAST(freq_sum AS BIGINT) AS freq_sum,
         |  CAST(deg_sum AS DOUBLE) / CAST(freq_sum AS DOUBLE)
         |    AS rake_score
         |FROM occ o JOIN pscore USING (phrase)
         |ORDER BY rake_score DESC, phrase LIMIT 50""".stripMargin,
    // the same cleared-fraction BM25 algebra: 22·T·tf·N over
    // (10·T·tf + 3·T + 9·dl·N)·df per term, summed left-to-right in
    // fixed query order — each term ONE division of exact int64s
    "ta_bm25" ->
      s"""WITH $bm25OracleCtes
         |SELECT doc_id, dl, tf_spark, tf_join, tf_window, score
         |FROM lexall
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ta_diversity" ->
      s"""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(list_aggregate(list_transform(list_distinct(w),
         |         t -> len(list_filter(w, x -> x = t))
         |            * len(list_filter(w, x -> x = t))), 'sum') AS BIGINT)
         |    AS sum_c2,
         |  CAST(list_aggregate(list_transform(list_distinct(w),
         |         t -> len(list_filter(w, x -> x = t))
         |            * len(list_filter(w, x -> x = t))), 'sum') AS DOUBLE)
         |    / (len(w) * len(w)) AS simpson,
         |  CAST(len(w) * len(w) AS DOUBLE)
         |    / list_aggregate(list_transform(list_distinct(w),
         |        t -> len(list_filter(w, x -> x = t))
         |           * len(list_filter(w, x -> x = t))), 'sum') AS eff_vocab
         |FROM (SELECT doc_id, $W AS w FROM documents)
         |WHERE len(w) > 0 ORDER BY doc_id""".stripMargin,
    // same bucket statistics and fixed-point ratio; per-token ratio sum
    // replayed through a 64-row join instead of the literal array
    "ta_dsir" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |    CAST(concat('0x', substr(md5('dsir:' || t), 1, 15)) AS BIGINT)
         |      % 64 AS b
         |  FROM (SELECT doc_id, lang, unnest($W) AS t FROM documents)),
         |r AS (
         |  SELECT b,
         |    CAST(count(*) FILTER (lang = 'en') AS BIGINT) * 1000000
         |      // greatest(CAST(count(*) AS BIGINT), 1) AS ratio
         |  FROM tok GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(ratio) AS BIGINT) AS wsum,
         |  CAST(sum(ratio) AS BIGINT) // count(*) AS weight_scaled
         |FROM tok JOIN r USING (b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_novelty" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |            FOR i IN range(1, len(w) - 1)]) AS g
         |  FROM (SELECT doc_id, $W AS w FROM documents) WHERE len(w) >= 3),
         |first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS novelty
         |FROM grams JOIN first USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same cleared-fraction lift: c(xy)·T_uni² over T_bi·c(x)·c(y)
    "ta_colloc" ->
      s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1
         |        FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
         |bi AS (
         |  SELECT b['x'] AS x, b['y'] AS y, CAST(count(*) AS BIGINT) AS cxy
         |  FROM (SELECT unnest([{'x': w[i], 'y': w[i+1]}
         |                       FOR i IN range(1, len(w))]) AS b
         |        FROM d WHERE len(w) >= 2)
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tu,
         |          CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS tb
         |        FROM d)
         |SELECT x, y, cxy, ux.c1 AS cx, uy.c1 AS cy,
         |  CAST(CAST(cxy AS HUGEINT) * tu * tu AS DOUBLE)
         |    / CAST(CAST(tb AS HUGEINT) * ux.c1 * uy.c1 AS DOUBLE) AS lift
         |FROM bi JOIN uni ux ON bi.x = ux.t
         |        JOIN uni uy ON bi.y = uy.t, tot
         |ORDER BY lift DESC, x, y LIMIT 50""".stripMargin,
    // the same uni CTE; rank by (count DESC, token), rf exact, rf_norm
    // one division by the rank-1 frequency (= max count)
    "ta_zipf" ->
      s"""WITH d AS (SELECT $W AS w FROM documents),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1),
         |rk AS (SELECT t, c,
         |         row_number() OVER (ORDER BY c DESC, t) AS rank FROM uni),
         |f1 AS (SELECT CAST(max(c) AS BIGINT) AS c1 FROM uni)
         |SELECT CAST(rank AS BIGINT) AS rank, t AS token, c AS freq,
         |  CAST(rank * c AS BIGINT) AS rf,
         |  CAST(rank * c AS DOUBLE) / CAST(c1 AS DOUBLE) AS rf_norm
         |FROM rk, f1 WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // rank-normalize: the same vc windows; pct_below one division
    "ta_rank_normalize" ->
      s"""WITH sc AS (SELECT doc_id, source, CAST(len($W) AS INTEGER)
         |              AS score
         |            FROM documents),
         |vc AS (SELECT source, score, count(*) AS c
         |       FROM sc GROUP BY 1, 2),
         |r AS (
         |  SELECT source, score,
         |    sum(c) OVER (PARTITION BY source ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
         |      AS below,
         |    sum(c) OVER (PARTITION BY source) AS n
         |  FROM vc)
         |SELECT doc_id, sc.source, sc.score,
         |  CAST(below AS DOUBLE) / CAST(n AS DOUBLE) AS pct_below
         |FROM sc JOIN r ON sc.source = r.source AND sc.score = r.score
         |ORDER BY doc_id""".stripMargin,
    // burstiness: one division of the two exact counts per token
    "ta_burstiness" ->
      s"""WITH u AS (SELECT doc_id, unnest($W) AS t FROM documents)
         |SELECT t AS token, count(*) AS n_occur,
         |  count(DISTINCT doc_id) AS n_docs,
         |  CAST(count(*) AS DOUBLE) / CAST(count(DISTINCT doc_id) AS DOUBLE)
         |    AS burstiness
         |FROM u GROUP BY 1 ORDER BY n_occur DESC, token LIMIT 50"""
        .stripMargin,
    "ta_hashing_tf" ->
      s"""SELECT doc_id, CAST(b AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS tf
         |FROM (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5('htf:' || t), 1, 15)) AS BIGINT)
         |      % 64 AS b
         |  FROM (SELECT doc_id, unnest($W) AS t FROM documents))
         |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "ta_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |        CAST(concat('0x', substr(md5('sp:' || doc_id), 1, 15)) AS BIGINT)
        |          % 100 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "ta_weighted_sample" ->
      """SELECT doc_id, source, n_chars
        |FROM documents, (SELECT max(n_chars) AS mx FROM documents)
        |WHERE (CAST(concat('0x', substr(md5('ws:' || doc_id), 1, 15)) AS BIGINT)
        |       % 1000000) * mx < n_chars * 1000000
        |ORDER BY doc_id""".stripMargin,
    // exact HUGEINT cross-multiplied ranking; the float lift is the same
    // fixed expression tree as the Spark side (one mult, one mult, one div)
    "ta_distinctive" ->
      """WITH wc AS (
        |  SELECT source, word, count(*) AS c_sw FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(text), '[^\p{L}]+'),
        |      x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1, 2),
        |corpus AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w
        |           FROM wc GROUP BY 1),
        |per_source AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s
        |               FROM wc GROUP BY 1),
        |total AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_c FROM per_source),
        |dev AS (
        |  SELECT source, word, c_sw, n_s, c_w, n_c,
        |    abs(CAST(c_sw AS HUGEINT) * n_c - CAST(c_w AS HUGEINT) * n_s)
        |      AS dv
        |  FROM wc JOIN corpus USING (word)
        |    JOIN per_source USING (source), total),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY source ORDER BY dv DESC, word) AS rnk
        |      FROM dev)
        |SELECT source, rnk, word, c_sw, n_s, c_w, n_c,
        |  CAST(c_sw AS DOUBLE) * CAST(n_c AS DOUBLE)
        |    / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE)) AS lift
        |FROM r WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,
    // ta_chi2: HUGEINT mirrors DECIMAL(38,0); one integral division of
    // exact positive operands (numerator is a square times positives)
    // ta_hapax: one (lang, word) frequency table, exact micro ratios
    "ta_hapax" ->
      """WITH f AS (
        |  SELECT lang, w, count(*) AS f FROM (
        |    SELECT lang, unnest(list_filter(
        |      string_split_regex(lower(text), '[^\p{L}]+'),
        |      x -> x <> '')) AS w
        |    FROM documents) GROUP BY 1, 2)
        |SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hapax,
        |  CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
        |  CAST((sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000)
        |       // count(*) AS BIGINT) AS hapax_ratio_micro,
        |  CAST((count(*) * 1000000) // sum(f) AS BIGINT) AS ttr_micro
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "ta_chi2" ->
      """WITH present AS (
        |  SELECT DISTINCT doc_id, lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^\p{L}]+'), x -> x <> ''))
        |    AS word
        |  FROM documents),
        |a AS (SELECT word, lang, count(*) AS df_class
        |      FROM present GROUP BY 1, 2),
        |tf AS (SELECT word, CAST(sum(df_class) AS BIGINT) AS term_df
        |       FROM a GROUP BY 1),
        |ld AS (SELECT lang, count(*) AS lang_docs
        |       FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT a.word, a.lang, a.df_class, term_df, lang_docs, n_docs,
        |    CAST((CAST(1000000000000 AS HUGEINT) * n_docs *
        |          (CAST(df_class AS HUGEINT) * n_docs
        |            - CAST(term_df AS HUGEINT) * lang_docs) *
        |          (CAST(df_class AS HUGEINT) * n_docs
        |            - CAST(term_df AS HUGEINT) * lang_docs))
        |      // (CAST(term_df AS HUGEINT) * (n_docs - term_df) *
        |          lang_docs * (n_docs - lang_docs)) AS BIGINT)
        |      AS chi2_pico
        |  FROM a JOIN tf USING (word) JOIN ld USING (lang), n
        |  WHERE term_df >= 5 AND term_df < n_docs AND lang_docs < n_docs)
        |SELECT word, lang, df_class, term_df, lang_docs, n_docs, chi2_pico
        |FROM s ORDER BY chi2_pico DESC, word, lang LIMIT 50""".stripMargin,
    "ta_gopher" ->
      s"""SELECT doc_id, n_words, mean_wl, n_stop, top_ratio,
         | r_wc, r_mwl, r_stop, r_rep, r_wc * r_mwl * r_stop * r_rep AS keep
         |FROM (
         |  SELECT doc_id, n_words, mean_wl, n_stop, top_ratio,
         |    CAST(n_words >= 50 AND n_words <= 1000 AS INTEGER) AS r_wc,
         |    CAST(mean_wl >= 3.0 AND mean_wl <= 10.0 AS INTEGER) AS r_mwl,
         |    CAST(n_stop >= 2 AS INTEGER) AS r_stop,
         |    CAST(top_ratio <= 0.2 AS INTEGER) AS r_rep
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(w) AS INTEGER) AS n_words,
         |      CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
         |        AS DOUBLE) / len(w) AS mean_wl,
         |      CAST(len(list_intersect(list_distinct(w),
         |        ['the','a','of','and','to','in'])) AS INTEGER) AS n_stop,
         |      CAST(list_max(list_transform(list_distinct(w),
         |        t -> len(list_filter(w, x -> x = t)))) AS DOUBLE) / len(w)
         |        AS top_ratio
         |    FROM (SELECT doc_id, $W AS w FROM documents)
         |    WHERE len(w) > 0))
         |ORDER BY doc_id""".stripMargin,
    "ta_rolling_hash" ->
      s"""SELECT doc_id,
         | ${polyFold("text")} AS rh_raw,
         | ${polyFold("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS rh_norm
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_curation" ->
      s"""WITH r AS (
         |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         |    CASE WHEN len(w) > 0
         |         THEN CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
         |         ELSE 0.0 END AS ttr,
         |    CASE WHEN len(w) >= 3
         |         THEN 1 - CAST(len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                          FOR i IN range(1, len(w)-1)])) AS DOUBLE)
         |              / (len(w) - 2)
         |         ELSE 1.0 END AS dup3,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |       + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
         |       + len(regexp_extract_all(text, '\\+\\d{7,15}')) AS INTEGER) AS n_pii
         |  FROM (SELECT doc_id, text, $W AS w FROM documents))
         |SELECT doc_id, n_tokens, ttr, dup3, n_pii,
         |  CAST(n_tokens >= 30 AS INTEGER) AS pass_len,
         |  CAST(ttr >= 0.35 AS INTEGER) AS pass_ttr,
         |  CAST(dup3 <= 0.05 AS INTEGER) AS pass_rep,
         |  CAST(n_pii = 0 AS INTEGER) AS pass_pii,
         |  CAST(n_tokens >= 30 AS INTEGER) * CAST(ttr >= 0.35 AS INTEGER)
         |    * CAST(dup3 <= 0.05 AS INTEGER) * CAST(n_pii = 0 AS INTEGER) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "ta_repetition" ->
      s"""SELECT doc_id,
         | CAST(len(w) - 2 AS INTEGER) AS n_3grams,
         | CAST(len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                         FOR i IN range(1, len(w)-1)])) AS INTEGER) AS n_unique_3grams,
         | 1 - CAST(len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                             FOR i IN range(1, len(w)-1)])) AS DOUBLE) / (len(w) - 2) AS dup_3gram_ratio,
         | 1 - CAST(len(list_distinct([w[i] || ' ' || w[i+1]
         |                             FOR i IN range(1, len(w))])) AS DOUBLE) / (len(w) - 1) AS dup_2gram_ratio
         |FROM (SELECT doc_id, $W AS w FROM documents)
         |WHERE len(w) >= 3 ORDER BY doc_id""".stripMargin,
    "ta_pii_scrub" ->
      """WITH staged AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |staged2 AS (
        |  SELECT doc_id, text, t1,
        |    regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM staged)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(t2, '\+\d{7,15}')) AS INTEGER) AS n_pii,
        | md5(regexp_replace(t2, '\+\d{7,15}', '<PHONE>', 'g')) AS scrub_hash
        |FROM staged2 ORDER BY doc_id""".stripMargin,
    "ta_boilerplate" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS s
         |    FROM (SELECT doc_id, $W AS w FROM documents) WHERE len(w) >= 2)),
         |df AS (
         |  SELECT s, CAST(count(*) AS DOUBLE)
         |            / (SELECT count(DISTINCT doc_id) FROM grams) >= 0.2 AS is_bp
         |  FROM grams GROUP BY s)
         |SELECT doc_id, count(*) AS n_grams,
         | CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
         | CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS bp_ratio
         |FROM grams JOIN df USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_quality_score" ->
      s"""WITH ints AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
         |    CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
         |    CAST(len(list_filter(w, x ->
         |           list_contains(['the','a','of','and','to','in'], x))) AS BIGINT) AS n_sw,
         |    CAST(coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0)
         |         AS BIGINT) AS n_chars,
         |    CASE WHEN len(w) >= 3
         |         THEN CAST(len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                      FOR i IN range(1, len(w)-1)])) AS BIGINT)
         |         ELSE 0 END AS n_uniq3
         |  FROM (SELECT doc_id, text, $W AS w FROM documents)),
         |scaff AS (
         |  SELECT *, greatest(n, 1) AS a,
         |    CASE WHEN n >= 3 THEN n - 2 ELSE 1 END AS b,
         |    CASE WHEN n >= 3 THEN n - 2 - n_uniq3 ELSE 1 END AS dup3n
         |  FROM ints),
         |scored AS (
         |  SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |    CASE WHEN n > 0 THEN CAST(n_uniq AS DOUBLE) / n ELSE 0.0 END AS ttr,
         |    CASE WHEN n > 0 THEN CAST(n_sw AS DOUBLE) / n ELSE 0.0 END AS stopword_ratio,
         |    CASE WHEN n > 0 THEN CAST(n_chars AS DOUBLE) / n ELSE 0.0 END AS mean_tok_len,
         |    CASE WHEN n >= 3 THEN 1 - CAST(n_uniq3 AS DOUBLE) / (n - 2)
         |         ELSE 1.0 END AS dup3,
         |    CAST(CAST(b * (n * a - 200 * a + 200 * n_uniq + 300 * n_sw + 10 * n_chars)
         |              - 1000 * a * dup3n AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(100 * a * b AS BIGINT) AS DOUBLE) AS score
         |  FROM scaff)
         |SELECT doc_id, n_tokens, ttr, stopword_ratio, mean_tok_len, dup3, score,
         |  CAST(score >= 0 AS INTEGER) AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,
    "ta_bpe_vocab" -> bpeVocabOracle(8),
    "ta_bpe_apply" -> bpeApplyOracle(8),
    "ta_mixture" ->
      """SELECT doc_id, lang, coin FROM (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5('mix:' || doc_id), 1, 15)) AS BIGINT)
        |      % 1000000 AS coin,
        |    CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |         WHEN 'fr' THEN 100000 ELSE 50000 END AS thr
        |  FROM documents)
        |WHERE coin < thr ORDER BY doc_id""".stripMargin,
    "ta_source_cap" ->
      """WITH g AS (
        |  SELECT doc_id, source, lang,
        |    CAST(concat('0x', substr(md5('cap:' || doc_id), 1, 15)) AS BIGINT)
        |      AS prio
        |  FROM documents),
        |c AS (SELECT source, lang, count(*) AS n_group
        |      FROM documents GROUP BY 1, 2),
        |r AS (
        |  SELECT g.doc_id, g.source, g.lang, c.n_group,
        |    row_number() OVER (PARTITION BY g.source, g.lang
        |                       ORDER BY g.prio, g.doc_id) AS rawrnk
        |  FROM g JOIN c USING (source, lang))
        |SELECT doc_id, source, lang, n_group,
        |  CAST(CASE WHEN n_group > 8 THEN rawrnk END AS INTEGER) AS rnk,
        |  CAST(CASE WHEN n_group <= 8 OR rawrnk <= 8 THEN 1 ELSE 0 END
        |       AS INTEGER) AS kept
        |FROM r ORDER BY doc_id""".stripMargin,
    "ta_shard" ->
      """SELECT doc_id,
        |  CAST(skey % 32 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY skey % 32
        |         ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |        CAST(concat('0x', substr(md5('shuf:' || doc_id), 1, 15))
        |             AS BIGINT) AS skey
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "ta_bpe_tokens" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS INTEGER) AS n_bpe_tokens,
         | CAST(len($W) AS INTEGER) AS n_word_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_token_stats" ->
      s"""SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct(w)) AS INTEGER) AS n_unique,
         | CAST(length(text) AS INTEGER) AS n_chars_obs
         |FROM (SELECT doc_id, text, $W AS w FROM documents) ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      s"""SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         | CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w) AS mean_tok_len,
         | CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w) AS stopword_ratio,
         | CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
         | CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / length(text) AS space_ratio
         |FROM (SELECT doc_id, text, $W AS w FROM documents)
         |WHERE len(w) > 0 ORDER BY doc_id""".stripMargin,
    // readability: identical regex conventions, identical expression
    // order on the score — chr(2) is the same marker the Spark side uses
    "ta_readability" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(len($W) AS BIGINT) AS words,
         |    greatest(CAST(1 AS BIGINT), CAST(
         |      length(regexp_replace(text, '[.!?]+', chr(2), 'g'))
         |      - length(replace(regexp_replace(text, '[.!?]+', chr(2), 'g'),
         |                       chr(2), '')) AS BIGINT)) AS sents,
         |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
         |      - length(replace(regexp_replace(lower(text), '[aeiouy]+',
         |                                      'V', 'g'), 'V', ''))
         |      AS BIGINT) AS sylls
         |  FROM documents),
         |a AS (
         |  SELECT source, count(*) AS n_docs, sum(words) AS n_words,
         |    sum(sents) AS n_sentences, sum(sylls) AS n_syllables
         |  FROM d GROUP BY 1),
         |r AS (
         |  SELECT *, CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
         |      AS words_per_sentence,
         |    CASE WHEN n_words > 0 THEN
         |      CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) END
         |      AS syllables_per_word
         |  FROM a)
         |SELECT source, n_docs, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_sentences AS BIGINT) AS n_sentences,
         |  CAST(n_syllables AS BIGINT) AS n_syllables,
         |  words_per_sentence, syllables_per_word,
         |  CASE WHEN n_words > 0 THEN
         |    CAST('206.835' AS DOUBLE)
         |      - CAST('1.015' AS DOUBLE) * words_per_sentence
         |      - CAST('84.6' AS DOUBLE) * syllables_per_word END AS flesch
         |FROM r ORDER BY source""".stripMargin,
    "ta_langid" -> {
      val w = "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> x <> '')"
      val scores = markers.map { case (l, ms) =>
        val lst = ms.map(m => s"'$m'").mkString("[", ",", "]")
        s"CAST(len(list_filter(w, x -> list_contains($lst, x))) AS INTEGER) AS s_$l"
      }.mkString(",\n ")
      val best = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
      val pred = markers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""SELECT doc_id, lang_actual, s_de, s_en, s_es, s_fr, s_zh, $pred AS lang_pred
         |FROM (SELECT doc_id, lang AS lang_actual, $scores
         |      FROM (SELECT doc_id, lang, $w AS w FROM documents))
         |ORDER BY doc_id""".stripMargin
    },
    "ta_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($W) AS term FROM documents) GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, score
         |FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |    CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC, tf.term)
         |      AS rank
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id, md5(n) AS fp_md5,
        | CAST(concat('0x', substr(md5(n), 1, 15)) AS BIGINT) AS fp60
        |FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS n
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "ta_lm_score" ->
      s"""WITH bi AS (
         |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
         |  FROM (SELECT doc_id, $W AS w FROM documents) WHERE len(w) >= 2),
         |model AS (SELECT bg, count(*) AS c FROM bi GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(c) AS DOUBLE) / count(*) AS avg_bigram_freq,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS rare_frac,
         |  CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |       <= 0.5 AS INTEGER) AS keep
         |FROM bi JOIN model USING (bg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ta_ppl_buckets: the identical histogram-cutoff chain — lm model,
    // micro quantization, per-lang cumulative mass, 3·below vs 1/2·tot
    // integer cross-multiplication (no division, no per-doc rank)
    "ta_ppl_buckets" ->
      s"""WITH bi AS (
         |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
         |  FROM (SELECT doc_id, $W AS w FROM documents) WHERE len(w) >= 2),
         |model AS (SELECT bg, count(*) AS c FROM bi GROUP BY 1),
         |per AS (
         |  SELECT d.doc_id, d.lang, p.n_bigrams,
         |    CAST((p.n_rare * 1000000) // p.n_bigrams AS BIGINT)
         |      AS rare_micro
         |  FROM (SELECT doc_id, count(*) AS n_bigrams,
         |          sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_rare
         |        FROM bi JOIN model USING (bg) GROUP BY doc_id) p
         |  JOIN documents d ON d.doc_id = p.doc_id),
         |grid AS (
         |  SELECT lang, rare_micro,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY rare_micro) - cnt
         |      AS below,
         |    sum(cnt) OVER (PARTITION BY lang) AS tot
         |  FROM (SELECT lang, rare_micro, count(*) AS cnt
         |        FROM per GROUP BY 1, 2)),
         |g2 AS (
         |  SELECT lang, rare_micro,
         |    CASE WHEN below * 3 >= tot * 2 THEN 'tail'
         |         WHEN below * 3 >= tot THEN 'middle'
         |         ELSE 'head' END AS bucket
         |  FROM grid)
         |SELECT per.doc_id, per.lang, per.n_bigrams, per.rare_micro,
         |  g2.bucket, CAST(g2.bucket <> 'tail' AS INTEGER) AS keep
         |FROM per JOIN g2 ON g2.lang = per.lang
         |  AND g2.rare_micro = per.rare_micro
         |ORDER BY per.doc_id""".stripMargin,
    // ta_chunk_plan: same integer ceil chunk count + span arithmetic
    "ta_chunk_plan" ->
      s"""WITH t AS (
         |  SELECT doc_id, len($W) AS n FROM documents),
         |c AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n <= 256 THEN 1
         |         ELSE 1 + (n - 256 + 191) // 192 END AS n_chunks
         |  FROM t WHERE n > 0),
         |x AS (
         |  SELECT doc_id, n, unnest(range(0, n_chunks)) AS chunk_idx
         |  FROM c)
         |SELECT doc_id, n AS n_tokens, chunk_idx,
         |  chunk_idx * 192 AS start_tok,
         |  least(chunk_idx * 192 + 256, n) AS end_tok,
         |  least(chunk_idx * 192 + 256, n) - chunk_idx * 192 AS n_in_chunk,
         |  CAST(least(chunk_idx * 192 + 256, n) = n AS INTEGER) AS is_last
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    // ta_temperature_mix: identical guarded exact isqrt, micro shares,
    // and the q105 largest-remainder quota (frac DESC, source tiebreak)
    "ta_temperature_mix" ->
      """WITH tok AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |s0 AS (SELECT source, chars,
        |    CAST(floor(sqrt(CAST(chars AS DOUBLE))) AS BIGINT) AS s0
        |  FROM tok),
        |w AS (SELECT source, chars,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= chars THEN s0 + 1
        |         WHEN s0 * s0 > chars THEN s0 - 1 ELSE s0 END AS w
        |  FROM s0),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot,
        |             CAST(sum(chars) AS BIGINT) AS chars_tot FROM w),
        |b AS (SELECT source, chars, w, w_tot, chars_tot,
        |    CAST((1000000 * w) // w_tot AS BIGINT) AS base,
        |    CAST((1000000 * w) % w_tot AS BIGINT) AS frac
        |  FROM w, t),
        |sb AS (SELECT CAST(sum(base) AS BIGINT) AS sum_base FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY frac DESC, source)
        |        AS xr
        |      FROM b, sb)
        |SELECT source, chars, w,
        |  CAST((chars * 1000000) // chars_tot AS BIGINT)
        |    AS raw_share_micro,
        |  CAST((w * 1000000) // w_tot AS BIGINT) AS share_micro,
        |  CAST(base + CASE WHEN xr <= 1000000 - sum_base THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM r ORDER BY source""".stripMargin,
    // ta_hash_infer: same md5 feature/weight hashing — buckets from
    // range(4096), all-integer accumulate, verdict at score >= 0
    "ta_hash_infer" ->
      s"""WITH w AS (
         |  SELECT bucket,
         |    CAST(concat('0x', substr(md5('ftw:' ||
         |      CAST(bucket AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 2001 - 1000 AS w
         |  FROM range(4096) t(bucket)),
         |bi AS (
         |  SELECT doc_id, unnest([wd[i] || ' ' || wd[i+1] FOR i IN range(1, len(wd))]) AS bg
         |  FROM (SELECT doc_id, $W AS wd FROM documents)
         |  WHERE len(wd) >= 2),
         |f AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5('ftb:' || bg), 1, 15)) AS BIGINT)
         |      % 4096 AS bucket,
         |    count(*) AS k
         |  FROM bi GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  CAST(sum(k * w.w) AS BIGINT) AS score,
         |  CAST(sum(k * w.w) >= 0 AS INTEGER) AS keep
         |FROM f JOIN w USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens FROM documents),
         |p AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS BIGINT) AS start_pos
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, start_pos,
         |  start_pos // 512 AS first_chunk,
         |  (start_pos + n_tokens - 1) // 512 AS last_chunk,
         |  (start_pos + n_tokens - 1) // 512 - start_pos // 512 + 1 AS n_chunks
         |FROM p ORDER BY doc_id""".stripMargin,
    )
    // ta_langid_eval: the ta_langid oracle embedded as a derived table
    // (the ann_recall composition), aggregated into the confusion matrix
    base + ("ta_kappa" ->
      // chance-corrected agreement: exact signed rational + one IEEE
      // division (HUGEINT ≡ DECIMAL(38,0)); acc_micro is the only
      // integral division and its operands are positive
      s"""WITH pred AS (${base("ta_langid")}),
         |conf AS (SELECT lang_actual, lang_pred, count(*) AS n
         |         FROM pred GROUP BY 1, 2),
         |rt AS (SELECT lang_actual AS k, sum(n) AS rt FROM conf GROUP BY 1),
         |ct AS (SELECT lang_pred AS k, sum(n) AS ct FROM conf GROUP BY 1),
         |pe AS (SELECT sum(CAST(coalesce(rt, 0) AS HUGEINT)
         |                  * coalesce(ct, 0)) AS pe_num
         |       FROM rt FULL OUTER JOIN ct USING (k)),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN lang_actual = lang_pred THEN n
         |                      ELSE 0 END) AS BIGINT) AS n_agree
         |      FROM conf)
         |SELECT n_docs, n_agree,
         |  (1000000 * n_agree) // nullif(n_docs, 0) AS acc_micro,
         |  CAST(CAST(n_docs AS HUGEINT) * n_agree - pe_num AS BIGINT)
         |    AS kappa_num,
         |  CAST(CAST(n_docs AS HUGEINT) * n_docs - pe_num AS BIGINT)
         |    AS kappa_den,
         |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - pe_num <> 0 THEN
         |    CAST(CAST(n_docs AS HUGEINT) * n_agree - pe_num AS DOUBLE)
         |    / CAST(CAST(n_docs AS HUGEINT) * n_docs - pe_num AS DOUBLE)
         |  END AS kappa
         |FROM t, pe""".stripMargin) + ("ta_rater_agreement" ->
      // Fleiss' kappa over the three quality raters (the ta_kappa
      // composition pattern: base oracles embedded verbatim as CTEs);
      // n=3 collapses the per-doc term to k(k-1)+(3-k)(2-k), kappa to
      // ONE exact rational — HUGEINT ≡ DECIMAL(38,0), bounds-checked
      // casts, one IEEE division, NULL on the all-same-verdict
      // degenerate (kd = 0)
      s"""WITH q AS (${base("ta_quality_score")}),
         |g AS (${base("ta_gopher")}),
         |l AS (${base("ta_lm_score")}),
         |j AS (
         |  SELECT q.keep AS kq, g.keep AS kg, l.keep AS kl,
         |    q.keep + g.keep + l.keep AS k
         |  FROM q JOIN g ON g.doc_id = q.doc_id
         |  JOIN l ON l.doc_id = q.doc_id),
         |a AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(kq) AS BIGINT) AS keep_q,
         |    CAST(sum(kg) AS BIGINT) AS keep_g,
         |    CAST(sum(kl) AS BIGINT) AS keep_l,
         |    sum(k * (k - 1) + (3 - k) * (2 - k)) AS sa,
         |    sum(k) AS kk,
         |    sum(CASE WHEN kq = kg THEN 1 ELSE 0 END) AS agree_qg,
         |    sum(CASE WHEN kq = kl THEN 1 ELSE 0 END) AS agree_ql,
         |    sum(CASE WHEN kg = kl THEN 1 ELSE 0 END) AS agree_gl
         |  FROM j),
         |r AS (
         |  SELECT *,
         |    CAST(3 AS HUGEINT) * n_docs * sa
         |      - 2 * (CAST(kk AS HUGEINT) * kk
         |        + CAST(3 * n_docs - kk AS HUGEINT) * (3 * n_docs - kk))
         |      AS kn,
         |    CAST(18 AS HUGEINT) * n_docs * n_docs
         |      - 2 * (CAST(kk AS HUGEINT) * kk
         |        + CAST(3 * n_docs - kk AS HUGEINT) * (3 * n_docs - kk))
         |      AS kd
         |  FROM a)
         |SELECT n_docs, keep_q, keep_g, keep_l,
         |  CAST((agree_qg * 1000000) // n_docs AS BIGINT)
         |    AS agree_qg_micro,
         |  CAST((agree_ql * 1000000) // n_docs AS BIGINT)
         |    AS agree_ql_micro,
         |  CAST((agree_gl * 1000000) // n_docs AS BIGINT)
         |    AS agree_gl_micro,
         |  CASE WHEN kn BETWEEN -9223372036854775808 AND
         |    9223372036854775807 THEN CAST(kn AS BIGINT)
         |    ELSE CAST(error('kappa_num overflows BIGINT') AS BIGINT)
         |  END AS kappa_num,
         |  CASE WHEN kd BETWEEN -9223372036854775808 AND
         |    9223372036854775807 THEN CAST(kd AS BIGINT)
         |    ELSE CAST(error('kappa_den overflows BIGINT') AS BIGINT)
         |  END AS kappa_den,
         |  CASE WHEN kd <> 0 THEN CAST(kn AS DOUBLE) / CAST(kd AS DOUBLE)
         |  END AS kappa
         |FROM r""".stripMargin) + ("ta_langid_eval" ->
      s"""WITH pred AS (${base("ta_langid")}),
         |conf AS (SELECT lang_actual, lang_pred, count(*) AS n
         |         FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang_actual, sum(n) AS actual_total
         |        FROM conf GROUP BY 1)
         |SELECT conf.lang_actual, lang_pred, n,
         |  CAST(actual_total AS BIGINT) AS actual_total,
         |  CAST(n AS DOUBLE) / CAST(actual_total AS DOUBLE) AS share,
         |  conf.lang_actual = lang_pred AS is_correct
         |FROM conf JOIN tot ON conf.lang_actual = tot.lang_actual
         |ORDER BY 1, 2""".stripMargin)
  }
}
