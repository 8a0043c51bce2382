package graft.sources

import graft.functions.hashes.portableHash60
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-format source/sink round-trips — the raw-ingest edge of a training
  * data pipeline. Real corpora arrive as JSONL (Common Crawl derivatives,
  * chat dumps) or CSV (metadata sheets); the parquet tables everything else
  * reads are produced by exactly this hop, so its fidelity — embedded
  * newlines, quotes, commas, non-ASCII — is worth a first-class gate.
  *
  * The checked queries decorate the documents table with adversarial
  * characters (newlines / commas / quotes / non-ASCII, derived
  * deterministically from doc_id so the oracle can rebuild them in SQL),
  * write the decorated frame through the format under test, read it back
  * with an EXPLICIT schema, and reduce to per-source counts + order-
  * independent row checksums. The oracle computes the same summary from
  * the parquet directly: equal answers ⇔ the format hop was lossless.
  *
  * Scale notes (100 TB):
  *  - Schema is always explicit on read. Schema inference is a second full
  *    pass over the data before the real one — never acceptable at scale.
  *  - JSONL is the preferred interchange: line-splittable, so a 1000-
  *    executor cluster scans one 100 TB directory with normal parallelism
  *    and embedded '\n' inside JSON strings is escaped, not literal.
  *  - CSV with embedded newlines requires multiLine=true, and a multiLine
  *    CSV file is NOT splittable (quote state can't be resumed
  *    mid-file) — parallelism degrades to one task per FILE. The writer
  *    side of this round-trip emits one file per partition, which is the
  *    mitigation: many medium files, not one giant one. JSONL is still the
  *    right answer when the producer can be chosen.
  *  - The checksum is bit_xor + a modular sum of the 60-bit portable row
  *    hash: both are order-independent (no sort before aggregate) and
  *    map-side combinable, so the verification itself is one partial-agg
  *    shuffle of O(sources) rows. The modular sum accumulates in
  *    DECIMAL(38,0) on both sides — an int64 sum of ~1e9-sized terms
  *    wraps (silently in Spark, as a cast error in the oracle) near
  *    9·10⁹ rows per source, which a 100 TB corpus exceeds.
  */
object Sources {

  /** documents.parquet's schema, stated explicitly for the read side. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Deterministic adversarial decoration: spaces become newlines (doc_id
    * ≡ 0 mod 3) or commas (≡ 1 mod 3), every text is wrapped in literal
    * double quotes and suffixed with a non-ASCII 'π'. Expressed with the
    * same replace/CASE the oracle uses, so both engines build identical
    * strings from the identical parquet bytes.
    */
  def decorate(docs: DataFrame): DataFrame = {
    val sep = when(col("doc_id") % 3 === 0, lit("\n"))
      .when(col("doc_id") % 3 === 1, lit(","))
      .otherwise(lit(" "))
    // regexp_replace on a literal-space pattern ≡ the oracle's plain
    // replace (no metacharacters on either side)
    docs.select(
      col("doc_id"),
      concat(lit("\""), regexp_replace(col("text"), lit(" "), sep), lit("\"π"))
        .as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  /** Per-source fidelity summary: counts plus two order-independent
    * checksums of the full row (every column participates, chr(1)-joined
    * — a column-boundary shift can't alias).
    */
  def fidelitySummary(docs: DataFrame): DataFrame = {
    val rowKey = concat_ws("\u0001",
      col("doc_id"), col("lang"), col("n_chars"), col("text"))
    docs
      .withColumn("h", portableHash60(rowKey))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        expr("bit_xor(h)").as("checksum_xor"),
        // Engine-neutral exact type: the modular sum reduces to BIGINT
        // (< 2·10^9 more precisely < p) — r8 showed raw DECIMAL(38,0)
        // output canonicalizes differently across Spark-parquet and
        // DuckDB-HUGEINT in the driver's hasher. The internal sum stays
        // DECIMAL(38,0) so it is overflow-exact at any corpus size; only
        // the published column is reduced.
        (sum((col("h") % 1000000007L).cast(DecimalType(38, 0)))
          % lit(1000000007L)).cast("long").as("checksum_sum"))
      .orderBy("source")
  }

  /** Staged output dir, recursively deleted on JVM exit — ONE
    * implementation of exit-time temp cleanup for the whole library
    * ([[graft.operators.Dedup.tempSigStore]]); a Bench+Verify run must
    * not leave graft-src-* dirs behind.
    */
  private[graft] def staged(prefix: String): String =
    graft.operators.Dedup.tempSigStore(prefix)

  /** documents → JSONL → documents, summarized. */
  def jsonlRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-jsonl")
    decorate(Tables.load(spark, sfDir, "documents"))
      .write.mode("overwrite").json(out)
    fidelitySummary(spark.read.schema(docSchema).json(out))
  }

  /** documents → CSV (RFC-4180 doubled-quote escaping, multiLine read) →
    * documents, summarized.
    */
  def csvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-csv")
    decorate(Tables.load(spark, sfDir, "documents"))
      .write.mode("overwrite")
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(out)
    fidelitySummary(
      spark.read.schema(docSchema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .option("multiLine", "true")
        .csv(out))
  }

  /** documents → ORC → documents, summarized. The second columnar format
    * (parquet is the table substrate): ORC is splittable, stripe-indexed
    * and predicate-pushdown-capable, so a 100 TB corpus written this way
    * scans with the same parallelism and pruning as parquet — the gate
    * proves the string/long round-trip is byte-lossless through ORC's
    * dictionary + RLE encodings on the SAME adversarial decoration the
    * text formats face (embedded newlines, quotes, commas, non-ASCII).
    */
  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-orc")
    decorate(Tables.load(spark, sfDir, "documents"))
      .write.mode("overwrite").orc(out)
    fidelitySummary(spark.read.schema(docSchema).orc(out))
  }

  /** documents → zstd-compressed parquet → documents, summarized. The
    * compression-codec gate: codec choice is a first-order 100 TB lever
    * (zstd typically halves storage + scan I/O vs snappy at similar CPU),
    * and the pages must decompress byte-identical — same adversarial
    * decoration, same lossless-summary gate as the format round-trips.
    * zstd pages stay splittable (parquet splits on row groups, the codec
    * is per-page), so read parallelism is unchanged.
    */
  def zstdRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-zstd")
    decorate(Tables.load(spark, sfDir, "documents"))
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    fidelitySummary(spark.read.schema(docSchema).parquet(out))
  }

  /** events → hive-partitioned parquet (partitionBy event_type) → PRUNED
    * read-back, summarized per class. The 100 TB layout primitive: a
    * reader filtering one class lists and scans ONLY that class's
    * directory — the filter becomes PartitionFilters, zero data pages
    * touched elsewhere (PlanSpec pins it). Partition values round-trip
    * through directory NAMES, not data pages; their fidelity (plus the
    * reordered column layout the writer produces) is this gate's point.
    * The row checksum hashes only the integer columns — a double's
    * to-string differs across engines, so `value` fidelity rides the
    * exact-decimal sum instead.
    */
  def partitionedRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-part")
    Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts_ns")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("ts_ns", LongType),
      StructField("event_type", StringType)))
    prunedSummary(spark.read.schema(schema).parquet(out))
  }

  /** documents → TWO parquet batches with DIFFERENT schemas (the second
    * written by an "old producer" without the `lang` column) → one
    * mergeSchema read-back, summarized. The schema-evolution gate every
    * long-lived corpus store needs: producers upgrade at different
    * times, so a directory accumulates generations and the reader must
    * union their schemas with NULLs for absent columns — losing a row,
    * inventing a non-null, or mis-aligning columns here corrupts every
    * downstream join silently. mergeSchema is the ONE sanctioned
    * deviation from the explicit-schema house rule: it reconciles
    * FOOTERS (metadata, one small read per file), not a second data
    * pass, which is exactly the scale-safe way to discover an evolved
    * schema.
    */
  def evolutionRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-evo")
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_evolution: the documents table is empty — no batches to write")
    val split = (maxRow.getLong(0) + 1) / 2
    docs.filter(col("doc_id") < split)
      .write.mode("overwrite").parquet(out)
    docs.filter(col("doc_id") >= split)
      .select("doc_id", "text", "source", "n_chars") // lang not yet added
      .write.mode("append").parquet(out)
    val back = spark.read.option("mergeSchema", "true").parquet(out)
    val rowKey = concat_ws("\u0001",
      col("doc_id"), coalesce(col("lang"), lit("∅")),
      col("n_chars"), col("text"))
    back
      .withColumn("h", portableHash60(rowKey))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_null"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        expr("bit_xor(h)").as("checksum_xor"),
        (sum((col("h") % 1000000007L).cast(DecimalType(38, 0)))
          % lit(1000000007L)).cast("long").as("checksum_sum"))
      .orderBy("source")
  }

  /** The pruned-read summary over a partitioned events layout (factored
    * so PlanSpec can pin PartitionFilters on the same frame the query
    * publishes).
    */
  private[graft] def prunedSummary(back: DataFrame): DataFrame =
    back.filter(col("event_type").isin("click", "purchase"))
      .withColumn("h", portableHash60(concat_ws("\u0001",
        col("event_id"), col("user_id"), col("ts_ns"))))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"),
        expr("bit_xor(h)").as("checksum_xor"),
        (sum((col("h") % 1000000007L).cast(DecimalType(38, 0)))
          % lit(1000000007L)).cast("long").as("checksum_sum"))
      .orderBy("event_type")

  /** Band store → `graft-bands` DSv2 connector → PRUNED read-back,
    * summarized per band. The custom-connector gate: the LSH band table
    * (`Dedup.bandsOf ∘ minhashSignatures`, the exact relation the
    * `bands` oracle CTE rebuilds) writes through
    * [[graft.sources.dsv2.BandStoreSource]]'s band-per-file layout and
    * reads back with `band IN (2, 5)` — a predicate the connector
    * absorbs in `pushFilters` and answers by FILE PRUNING in
    * `planInputPartitions` (SourcesSpec pins the pruned scan
    * description; full-fidelity read-back equality has its own spec).
    * The checksums hash (doc_id, bkey) per surviving row, so a dropped
    * file, a mis-parsed line, or a band routed to the wrong file all
    * break the hash.
    */
  def dsv2RoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-dsv2")
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(
        Tables.load(spark, sfDir, "documents")))
    bands.write.format("graft-bands").mode("overwrite").save(out)
    bandStoreSummary(spark, out)
  }

  /** Top-N pushdown through the connector: the store is built, RANGE-
    * CLUSTERED on (band, doc_id) by the compaction rewrite, and read back
    * as `ORDER BY doc_id LIMIT 100` — the shape
    * [[graft.sources.dsv2.BandScanBuilder.pushTopN]] absorbs. The
    * manifest's per-file doc_id min/max then bound the 100th-smallest id
    * and every file wholly beyond it is never opened (SourcesSpec pins
    * the `PushedTopN` description and the file cut); surviving readers
    * keep a bounded 100-row heap. Projected to doc_id only, the result
    * is a DETERMINISTIC MULTISET (the 100 smallest ids with band
    * multiplicity) even though tie-breaking between equal ids is
    * arbitrary — which is exactly why the gate can hash it.
    */
  /** Change-data-feed through the connector: the store lives the full
    * lifecycle — v1 overwrite (first corpus half), v2 append (second
    * half), v3 compaction (layout-only rewrite), v4 metadata-only band
    * delete — and [[graft.sources.dsv2.BandStoreMaintenance.changes]]
    * over (1, 4] must surface EXACTLY the second-half inserts at commit
    * 2 and the band-2/5 deletes at commit 4, with the compaction
    * cancelling to NOTHING (row-multiset semantics: rows that merely
    * moved files annihilate). The oracle rebuilds both deltas
    * relationally from the parquet; the compaction contributes no rows
    * to it at all — equality IS the cancellation proof, plus the
    * delete's pre-image correctness (deletes carry the FULL corpus's
    * band-2/5 rows, both halves, because the delete ran after the
    * append).
    */
  def dsv2ChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-cdf")
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_dsv2_cdf: the documents table is empty — no history to diff")
    val split = (maxRow.getLong(0) + 1) / 2
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(docs))
    bands.filter(col("doc_id") < split)
      .write.format("graft-bands").mode("overwrite").save(out) // v1
    bands.filter(col("doc_id") >= split)
      .write.format("graft-bands").mode("append").save(out) // v2
    graft.sources.dsv2.BandStoreMaintenance.compact(spark, out) // v3
    new graft.sources.dsv2.BandStoreSource()
      .getTable(graft.sources.dsv2.BandStore.Schema,
        Array.empty, java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("band", Array[Any](2, 5)))) // v4
    graft.sources.dsv2.BandStoreMaintenance.changes(spark, out, 1L, 4L)
      .withColumn("h", portableHash60(
        concat_ws("\u0001", col("doc_id"), col("bkey"))))
      .groupBy(col("_change_type"), col("_commit_version"), col("band"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        expr("bit_xor(h)").as("checksum_xor"),
        (sum((col("h") % 1000000007L).cast(DecimalType(38, 0)))
          % lit(1000000007L)).cast("long").as("checksum_sum"))
      .orderBy("_change_type", "_commit_version", "band")
  }

  def dsv2TopN(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-topn")
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(
        Tables.load(spark, sfDir, "documents")))
    bands.write.format("graft-bands").mode("overwrite").save(out)
    graft.sources.dsv2.BandStoreMaintenance.compact(spark, out,
      filesPerBand = 3)
    spark.read.format("graft-bands").load(out)
      .orderBy("doc_id").limit(100).select("doc_id")
  }

  /** Storage-partitioned join through the connector: the corpus index
    * and a new-docs index (first/second half of the corpus, two separate
    * `graft-bands` stores) are EACH aggregated per band and joined on
    * `band` — and because [[graft.sources.dsv2.BandScan]] reports its
    * band-per-file layout as a key-grouped partitioning, the whole
    * computation runs with ZERO hash exchanges (SourcesSpec pins the
    * plan): each task reads one band's files from both stores, both
    * aggregations finish in place, and the join is co-located by
    * storage. This is the scale path for store-vs-store reconciliation —
    * at 100 TB neither index is ever re-shuffled to meet the other; the
    * only movement is the 8-row presentation sort. Values are gated
    * against DuckDB recomputing both per-band summaries from the raw
    * band relation.
    */
  def dsv2SpjJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-spj")
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_dsv2_spj: the documents table is empty — no stores to build")
    val split = (maxRow.getLong(0) + 1) / 2
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(docs))
    bands.filter(col("doc_id") < split)
      .write.format("graft-bands").mode("overwrite").save(s"$out/old")
    bands.filter(col("doc_id") >= split)
      .write.format("graft-bands").mode("overwrite").save(s"$out/new")
    // storage-partitioned execution is opt-in; partially-matching
    // partition value sets are handled by pushing missing values down
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    def perBand(path: String, side: String): DataFrame =
      spark.read.format("graft-bands").load(path)
        .withColumn("h", portableHash60(
          concat_ws("\u0001", col("doc_id"), col("bkey"))))
        .groupBy("band")
        .agg(count(lit(1)).as(s"n_$side"),
          expr("bit_xor(h)").as(s"xor_$side"))
    perBand(s"$out/old", "old").join(perBand(s"$out/new", "new"), "band")
      .orderBy("band")
  }

  /** The probed-band summary both `src_dsv2` and `src_dsv2_stream`
    * publish: read through the connector pruned to bands 2 and 5 and
    * checksum (doc_id, bkey) per band.
    */
  private def bandStoreSummary(spark: SparkSession, store: String,
                               versionAsOf: Option[Long] = None): DataFrame = {
    val reader = spark.read.format("graft-bands")
    versionAsOf.foreach(v => reader.option("versionAsOf", v.toString))
    summarizeBands(reader.load(store))
  }

  private def summarizeBands(bands: DataFrame): DataFrame =
    bandSummaryAgg(bands.filter(col("band").isin(2, 5)))

  /** Per-band count/distinct/checksum reduction (no band filter — callers
    * choose the probe set).
    */
  private def bandSummaryAgg(bands: DataFrame): DataFrame = {
    bands
      .withColumn("h", portableHash60(
        concat_ws("\u0001", col("doc_id"), col("bkey"))))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("bkey")).as("n_buckets"),
        expr("bit_xor(h)").as("checksum_xor"),
        (sum((col("h") % 1000000007L).cast(DecimalType(38, 0)))
          % lit(1000000007L)).cast("long").as("checksum_sum"))
      .orderBy("band")
  }

  /** Time travel through the connector: generation 1 is the first half of
    * the corpus (overwrite → manifest v1), generation 2 appends the rest
    * (→ v2). The published frame stacks the probed-band summary of the
    * `versionAsOf = 1` read on top of the current read's — equal to the
    * oracle's half/full band relations ⇔ the immutable version manifest
    * still serves EXACTLY generation 1 after a later commit, and the
    * pointer serves the union. This is the audit/reproducibility shape a
    * dedup index needs in production: "which bucket was doc X in when
    * yesterday's job ran?" is a version read, not a guess.
    */
  def dsv2TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-dsv2tt")
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_dsv2_tt: the documents table is empty — no generations to write")
    val split = (maxRow.getLong(0) + 1) / 2
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(docs))
    bands.filter(col("doc_id") < split)
      .write.format("graft-bands").mode("overwrite").save(out)
    bands.filter(col("doc_id") >= split)
      .write.format("graft-bands").mode("append").save(out)
    bandStoreSummary(spark, out, versionAsOf = Some(1L))
      .withColumn("version", lit(1).cast("int"))
      .unionByName(bandStoreSummary(spark, out)
        .withColumn("version", lit(2).cast("int")))
      .select("version", "band", "n_rows", "n_docs", "n_buckets",
        "checksum_xor", "checksum_sum")
      .orderBy("version", "band")
  }

  /** The STREAM-SOURCE half of the connector gate: the versioned manifest
    * is a stream log ([[graft.sources.dsv2.BandMicroBatchStream]] — every
    * commit is an offset, each micro-batch reads exactly one window's new
    * files), so a store built by TWO batch commits is consumed as a
    * stream and must summarize identically to the batch read — the
    * src_dsv2 oracle VERBATIM. The band filter rides the STREAMING scan
    * (pushed per micro-batch), not the sink table.
    */
  def dsv2StreamSourceRead(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-dsv2r")
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_dsv2_read: the documents table is empty — nothing to stream")
    val split = (maxRow.getLong(0) + 1) / 2
    val bands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(docs))
    bands.filter(col("doc_id") < split)
      .write.format("graft-bands").mode("overwrite").save(out)
    bands.filter(col("doc_id") >= split)
      .write.format("graft-bands").mode("append").save(out)
    val sdf = spark.readStream.format("graft-bands").load(out)
      .filter(col("band").isin(2, 5))
    summarizeBands(graft.streaming.EventStream.drain(sdf,
      org.apache.spark.sql.streaming.OutputMode.Append))
  }

  /** The SQL half of the connector gate: the band store is created and
    * populated through [[graft.sources.dsv2.BandCatalog]] with plain SQL
    * DDL/DML (CREATE TABLE, INSERT OVERWRITE — the truncate commit) and
    * summarized over the catalog table — a SQL-only user must be
    * indistinguishable from the DataFrame API, so this shares src_dsv2's
    * oracle verbatim. The catalog instance is cached by Spark after
    * first use, so the flow is idempotent by construction (IF NOT
    * EXISTS + OVERWRITE).
    */
  def dsv2SqlRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_bandsq",
      classOf[graft.sources.dsv2.BandCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bandsq.warehouse",
      staged("graft-src-dsv2sql-wh"))
    graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(
        Tables.load(spark, sfDir, "documents")))
      .createOrReplaceTempView("graft_src_dsv2sql_bands")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_bandsq.store (" +
      "doc_id BIGINT NOT NULL, band INT NOT NULL, bkey STRING NOT NULL)")
    spark.sql("INSERT OVERWRITE graft_bandsq.store SELECT doc_id, " +
      "CAST(band AS INT), bkey FROM graft_src_dsv2sql_bands")
    summarizeBands(spark.table("graft_bandsq.store"))
  }

  /** The ROW-LEVEL-MUTATION half of the connector gate: the store starts
    * as the first-half corpus index, then one SQL `MERGE INTO` re-keys
    * every fifth document's signatures (matched-update), tombstones the
    * re-keyed docs divisible by 7 (matched-delete), and ingests the
    * second-half corpus (not-matched-insert) — the dedup-index refresh
    * shape (docs re-signed after edit, retracted, or newly crawled) in
    * one statement. Spark plans it as a group-based COPY-ON-WRITE through
    * [[graft.sources.dsv2.BandRowLevelOperation]]: runtime group
    * filtering on `_file` limits the rewrite to files that actually hold
    * matched keys (RowLevelSpec pins that), replacement files ride the
    * normal band-routed writers, and the commit swaps
    * `replaced → new` in one atomic versioned manifest publish. The
    * whole-store per-band summary is gated against DuckDB replaying the
    * merge relationally (left-join survivors ∪ anti-join inserts) — equal
    * answers ⇔ every matched/not-matched/delete branch and the manifest
    * swap changed EXACTLY the right rows. The flow is idempotent per run:
    * INSERT OVERWRITE rebuilds the base state before each MERGE.
    */
  def dsv2MergeRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_bandsm",
      classOf[graft.sources.dsv2.BandCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bandsm.warehouse",
      staged("graft-src-dsv2m-wh"))
    val docs = Tables.load(spark, sfDir, "documents")
    val maxRow = docs.agg(max(col("doc_id"))).head()
    require(!maxRow.isNullAt(0),
      "src_dsv2_merge: the documents table is empty — nothing to merge")
    val split = (maxRow.getLong(0) + 1) / 2
    graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(docs))
      .createOrReplaceTempView("graft_src_dsv2m_bands")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_bandsm.store (" +
      "doc_id BIGINT NOT NULL, band INT NOT NULL, bkey STRING NOT NULL)")
    spark.sql("INSERT OVERWRITE graft_bandsm.store SELECT doc_id, " +
      s"CAST(band AS INT), bkey FROM graft_src_dsv2m_bands " +
      s"WHERE doc_id < $split")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_src_dsv2m_src AS
         |SELECT doc_id, CAST(band AS INT) AS band, reverse(bkey) AS bkey
         |FROM graft_src_dsv2m_bands
         |WHERE doc_id < $split AND doc_id % 5 = 0
         |UNION ALL
         |SELECT doc_id, CAST(band AS INT) AS band, bkey
         |FROM graft_src_dsv2m_bands WHERE doc_id >= $split""".stripMargin)
    spark.sql(
      """MERGE INTO graft_bandsm.store t USING graft_src_dsv2m_src s
        |ON t.doc_id = s.doc_id AND t.band = s.band
        |WHEN MATCHED AND s.doc_id % 7 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bkey = s.bkey
        |WHEN NOT MATCHED THEN INSERT (doc_id, band, bkey)
        |  VALUES (s.doc_id, s.band, s.bkey)""".stripMargin)
    bandSummaryAgg(spark.table("graft_bandsm.store"))
  }

  /** The metadata-aggregate half of the connector gate: the grouped
    * count/min/max a store monitor polls is answered ENTIRELY from the
    * manifest's per-file statistics (`SupportsPushDownAggregates` →
    * [[graft.sources.dsv2.BandAggregateScan]]) — zero data files opened
    * (SourcesSpec proves that by deleting them; here the DuckDB oracle
    * proves the arithmetic is EXACT, not an estimate).
    */
  def dsv2MetadataAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-dsv2c")
    graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.minhashSignatures(
        Tables.load(spark, sfDir, "documents")))
      .write.format("graft-bands").mode("overwrite").save(out)
    spark.read.format("graft-bands").load(out)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("band")
  }

  /** The STREAMING half of the connector gate: documents arrive as a file
    * stream, the stream-safe row-local band projection
    * ([[graft.operators.Dedup.rowLocalBands]] — stateless, proven equal
    * to the groupBy signatures in DedupSpec) signs them in-flight, and
    * `writeStream.format("graft-bands")` appends into the connector's
    * epoch-committed StreamingWrite (idempotent micro-batch commits
    * through the manifest's epoch ledger). The published summary and
    * oracle are src_dsv2's verbatim: stream-ingest and batch-build of
    * the band store must be indistinguishable to a reader.
    */
  def dsv2StreamRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = staged("graft-src-dsv2s")
    val ckpt = staged("graft-src-dsv2s-ckpt")
    val bands = graft.operators.Dedup.rowLocalBands(
      graft.streaming.EventStream.readDocuments(spark, sfDir))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8") // state-store count for the one-batch local run
    try {
      val q = bands.writeStream.format("graft-bands")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    } finally spark.conf.set(key, prev)
    bandStoreSummary(spark, out)
  }

  /** documents → embedded-JDBC database → partitioned read-back,
    * summarized — the relational-system edge of the connector family
    * (CDC dumps, metadata databases). Same adversarial decoration and
    * lossless-summary gate as the file formats; the read side is a
    * PARTITIONED JDBC scan (8 doc_id stripes derived from the data's
    * min/max), which is the 100 TB-relevant discipline: a single-
    * connection JDBC read serializes the whole table through one task,
    * while stride predicates give every executor its own slice. Derby
    * runs EMBEDDED IN-MEMORY here (the only RDBMS in the test container,
    * and local-mode-only by construction — every executor thread shares
    * the JVM); a cluster deployment points the same code at a networked
    * database URL, where the stride predicates do the same slicing
    * server-side.
    */
  def jdbcRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    // keep Derby's derby.log out of the process working directory (the
    // repo, under sbt) — must be set before the driver first loads
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", staged("graft-derby"))
    val url =
      s"jdbc:derby:memory:graft${java.util.UUID.randomUUID().toString.take(8)};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val docs = decorate(Tables.load(spark, sfDir, "documents"))
    docs.coalesce(4).write.mode("overwrite")
      // explicit types: the Derby dialect maps StringType to CLOB, which
      // cannot be compared/grouped; VARCHAR at Derby's 32672-char ceiling
      // (the r13 fuzzer planted a 9801-char doc that a VARCHAR(8000)
      // column truncated into a write failure). A corpus with longer docs
      // needs CLOB plus a hash-based fidelity summary instead.
      .option("createTableColumnTypes",
        "text VARCHAR(32672), lang VARCHAR(16), source VARCHAR(64)")
      .jdbc(url, "documents", props)
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!bounds.isNullAt(0),
      "src_jdbc: the documents table is empty — stride bounds are " +
        "data-derived, so there is nothing to round-trip (the write above " +
        "still created the empty table)")
    val back = spark.read
      .option("partitionColumn", "doc_id")
      .option("numPartitions", "8")
      .option("lowerBound", bounds.getLong(0).toString)
      .option("upperBound", (bounds.getLong(1) + 1).toString)
      .jdbc(url, "documents", props)
    fidelitySummary(back)
  }

  // --- driver-checked query surface ---

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_jsonl" -> ((s, d) => jsonlRoundTrip(s, d)),
    "src_csv" -> ((s, d) => csvRoundTrip(s, d)),
    "src_orc" -> ((s, d) => orcRoundTrip(s, d)),
    "src_zstd" -> ((s, d) => zstdRoundTrip(s, d)),
    "src_partitioned" -> ((s, d) => partitionedRoundTrip(s, d)),
    "src_evolution" -> ((s, d) => evolutionRoundTrip(s, d)),
    "src_dsv2" -> ((s, d) => dsv2RoundTrip(s, d)),
    "src_dsv2_stream" -> ((s, d) => dsv2StreamRoundTrip(s, d)),
    "src_dsv2_tt" -> ((s, d) => dsv2TimeTravel(s, d)),
    "src_dsv2_count" -> ((s, d) => dsv2MetadataAgg(s, d)),
    "src_dsv2_read" -> ((s, d) => dsv2StreamSourceRead(s, d)),
    "src_dsv2_sql" -> ((s, d) => dsv2SqlRoundTrip(s, d)),
    "src_dsv2_merge" -> ((s, d) => dsv2MergeRoundTrip(s, d)),
    "src_dsv2_spj" -> ((s, d) => dsv2SpjJoin(s, d)),
    "src_dsv2_topn" -> ((s, d) => dsv2TopN(s, d)),
    "src_dsv2_cdf" -> ((s, d) => dsv2ChangeFeed(s, d)),
    "src_jdbc" -> ((s, d) => jdbcRoundTrip(s, d)),
  )

  /** Both oracles ignore the format hop entirely: they decorate + summarize
    * the parquet table directly. The Spark side only matches if the
    * write→read through the text format changed NOTHING.
    */
  private val oracleSummary: String =
    """WITH dec AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    '"' || replace(text, ' ',
      |      CASE WHEN doc_id % 3 = 0 THEN chr(10)
      |           WHEN doc_id % 3 = 1 THEN ','
      |           ELSE ' ' END) || '"π' AS text
      |  FROM documents),
      |h AS (
      |  SELECT source, n_chars,
      |    CAST(concat('0x', substr(md5(
      |      concat_ws(chr(1), doc_id, lang, n_chars, text)), 1, 15)) AS BIGINT) AS h
      |  FROM dec)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  bit_xor(h) AS checksum_xor,
      |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
      |FROM h GROUP BY source ORDER BY source""".stripMargin

  def oracle: Map[String, String] = Map(
    "src_jsonl" -> oracleSummary,
    "src_csv" -> oracleSummary,
    "src_orc" -> oracleSummary,
    "src_zstd" -> oracleSummary,
    // the oracle never sees the partitioned layout: it summarizes the
    // filtered classes straight off the parquet — equal answers ⇔ the
    // partitionBy write + pruned read changed nothing
    "src_partitioned" ->
      """WITH h AS (
        |  SELECT event_type, value,
        |    CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |      event_id, user_id, epoch_ns(ts))), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  bit_xor(h) AS checksum_xor,
        |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // src_evolution: the oracle rebuilds the evolved view straight off
    // the parquet — lang is NULL exactly for the old-producer batch;
    // equal summaries ⇔ the mergeSchema union lost nothing and invented
    // nothing
    "src_evolution" ->
      """WITH s AS (SELECT (max(doc_id) + 1) // 2 AS sp FROM documents),
        |d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id < sp THEN lang END AS lang,
        |    source, n_chars
        |  FROM documents, s),
        |h AS (
        |  SELECT source, lang, n_chars,
        |    CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |      doc_id, coalesce(lang, '∅'), n_chars, text)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lang_null,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(h) AS checksum_xor,
        |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    // src_dsv2: the oracle rebuilds the band relation (the same CTE chain
    // every dd_* pair oracle uses) straight off the parquet and summarizes
    // bands 2 and 5 — equal answers ⇔ the connector's write routing,
    // manifest commit, file pruning, and line parsing changed NOTHING.
    // src_dsv2_stream shares it VERBATIM: stream-ingest through the
    // epoch-committed StreamingWrite must be indistinguishable.
    "src_dsv2" -> dsv2Oracle,
    "src_dsv2_stream" -> dsv2Oracle,
    // src_dsv2_topn: the 100 smallest doc_ids (with band multiplicity)
    // are a deterministic multiset whatever the tie-breaking — the
    // oracle replays the band chain and sorts
    "src_dsv2_topn" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES}
         |SELECT doc_id FROM bands ORDER BY doc_id LIMIT 100""".stripMargin,
    // src_dsv2_read shares it too: consuming the store as a STREAM of
    // manifest-version windows must be indistinguishable from the batch
    // read to any consumer
    "src_dsv2_read" -> dsv2Oracle,
    "src_dsv2_sql" -> dsv2Oracle,
    // src_dsv2_merge: the oracle replays the MERGE relationally — the
    // post-merge store is (store-rows surviving the matched branches,
    // with matched updates applied) ∪ (source rows matching nothing),
    // over the same rebuilt band relation. Keys are unique per
    // (doc_id, band) on both sides, so the left join + anti join are the
    // exact MERGE semantics (Spark enforces the same cardinality rule).
    "src_dsv2_merge" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES},
         |sp AS (SELECT (max(doc_id) + 1) // 2 AS split FROM documents),
         |store AS (SELECT doc_id, band, bkey FROM bands, sp
         |          WHERE doc_id < split),
         |src AS (SELECT doc_id, band, reverse(bkey) AS bkey FROM bands, sp
         |          WHERE doc_id < split AND doc_id % 5 = 0
         |        UNION ALL
         |        SELECT doc_id, band, bkey FROM bands, sp
         |          WHERE doc_id >= split),
         |final AS (
         |  SELECT t.doc_id, t.band,
         |    CASE WHEN s.doc_id IS NOT NULL THEN s.bkey ELSE t.bkey END AS bkey
         |  FROM store t LEFT JOIN src s
         |    ON t.doc_id = s.doc_id AND t.band = s.band
         |  WHERE NOT (s.doc_id IS NOT NULL AND s.doc_id % 7 = 0)
         |  UNION ALL
         |  SELECT s.doc_id, s.band, s.bkey FROM src s
         |  WHERE NOT EXISTS (SELECT 1 FROM store t
         |                    WHERE t.doc_id = s.doc_id AND t.band = s.band)),
         |fh AS (SELECT CAST(band AS INTEGER) AS band, doc_id, bkey,
         |        CAST(concat('0x', substr(md5(concat_ws(chr(1),
         |          doc_id, bkey)), 1, 15)) AS BIGINT) AS h
         |      FROM final)
         |SELECT band, count(*) AS n_rows,
         |  count(DISTINCT doc_id) AS n_docs,
         |  count(DISTINCT bkey) AS n_buckets,
         |  bit_xor(h) AS checksum_xor,
         |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
         |FROM fh GROUP BY band ORDER BY band""".stripMargin,
    // src_dsv2_cdf: the oracle rebuilds the two REAL deltas relationally
    // — second-half inserts at commit 2, full-corpus band-2/5 deletes at
    // commit 4 — and nothing else; the in-between compaction (v3) must
    // contribute ZERO rows (row-multiset cancellation), so equality is
    // simultaneously the insert/delete correctness AND the layout-change
    // annihilation proof
    "src_dsv2_cdf" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES},
         |sp AS (SELECT (max(doc_id) + 1) // 2 AS split FROM documents),
         |cdf AS (
         |  SELECT 'insert' AS _change_type, CAST(2 AS BIGINT)
         |           AS _commit_version, band, doc_id, bkey
         |  FROM bands, sp WHERE doc_id >= split
         |  UNION ALL
         |  SELECT 'delete', CAST(4 AS BIGINT), band, doc_id, bkey
         |  FROM bands WHERE band IN (2, 5)),
         |ch AS (SELECT _change_type, _commit_version,
         |        CAST(band AS INTEGER) AS band, doc_id,
         |        CAST(concat('0x', substr(md5(concat_ws(chr(1),
         |          doc_id, bkey)), 1, 15)) AS BIGINT) AS h
         |      FROM cdf)
         |SELECT _change_type, _commit_version, band,
         |  count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
         |  bit_xor(h) AS checksum_xor,
         |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
         |FROM ch GROUP BY 1, 2, 3
         |ORDER BY _change_type, _commit_version, band""".stripMargin,
    // src_dsv2_tt: version 1 must serve EXACTLY the first-half build and
    // the current pointer the union — the oracle rebuilds both off the
    // parquet (band signatures are per-doc, so banding the half equals
    // filtering the full banding by doc_id)
    "src_dsv2_tt" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES},
         |s AS (SELECT (max(doc_id) + 1) // 2 AS split FROM documents),
         |vb AS (SELECT CAST(1 AS INTEGER) AS version, doc_id, band, bkey
         |         FROM bands, s WHERE band IN (2, 5) AND doc_id < split
         |       UNION ALL
         |       SELECT CAST(2 AS INTEGER), doc_id, band, bkey
         |         FROM bands WHERE band IN (2, 5)),
         |vh AS (SELECT version, CAST(band AS INTEGER) AS band, doc_id, bkey,
         |        CAST(concat('0x', substr(md5(concat_ws(chr(1),
         |          doc_id, bkey)), 1, 15)) AS BIGINT) AS h
         |      FROM vb)
         |SELECT version, band, count(*) AS n_rows,
         |  count(DISTINCT doc_id) AS n_docs,
         |  count(DISTINCT bkey) AS n_buckets,
         |  bit_xor(h) AS checksum_xor,
         |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
         |FROM vh GROUP BY version, band ORDER BY version, band""".stripMargin,
    // src_dsv2_count: the metadata-only aggregate must equal row-level
    // arithmetic over the rebuilt band relation exactly
    "src_dsv2_count" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES}
         |SELECT CAST(band AS INTEGER) AS band, count(*) AS n_rows,
         |  CAST(min(doc_id) AS BIGINT) AS min_doc,
         |  CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM bands GROUP BY band ORDER BY band""".stripMargin,
    "src_jdbc" -> oracleSummary,
    // src_dsv2_spj: the storage-partitioned store-vs-store join must
    // equal DuckDB recomputing both halves' per-band summaries from the
    // raw band relation (band signatures are per-doc, so banding a half
    // equals filtering the full banding by doc_id)
    "src_dsv2_spj" ->
      s"""WITH ${graft.operators.Dedup.BANDS_CTES},
         |sp AS (SELECT (max(doc_id) + 1) // 2 AS split FROM documents),
         |hh AS (SELECT CAST(band AS INTEGER) AS band, doc_id,
         |        CAST(concat('0x', substr(md5(concat_ws(chr(1),
         |          doc_id, bkey)), 1, 15)) AS BIGINT) AS h
         |      FROM bands),
         |ob AS (SELECT band, count(*) AS n_old, bit_xor(h) AS xor_old
         |       FROM hh, sp WHERE doc_id < split GROUP BY band),
         |nb AS (SELECT band, count(*) AS n_new, bit_xor(h) AS xor_new
         |       FROM hh, sp WHERE doc_id >= split GROUP BY band)
         |SELECT band, n_old, xor_old, n_new, xor_new
         |FROM ob JOIN nb USING (band) ORDER BY band""".stripMargin,
  )

  private lazy val dsv2Oracle: String =
      s"""WITH ${graft.operators.Dedup.BANDS_CTES},
         |b AS (SELECT doc_id, band, bkey FROM bands WHERE band IN (2, 5)),
         |bh AS (SELECT CAST(band AS INTEGER) AS band, doc_id, bkey,
         |        CAST(concat('0x', substr(md5(concat_ws(chr(1),
         |          doc_id, bkey)), 1, 15)) AS BIGINT) AS h
         |      FROM b)
         |SELECT band, count(*) AS n_rows,
         |  count(DISTINCT doc_id) AS n_docs,
         |  count(DISTINCT bkey) AS n_buckets,
         |  bit_xor(h) AS checksum_xor,
         |  CAST(sum(h % 1000000007) % 1000000007 AS BIGINT) AS checksum_sum
         |FROM bh GROUP BY band ORDER BY band""".stripMargin
}
