package graft.sources.dsv2

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `graft-bands`: a DataSource V2 connector for the LSH band store — the
  * (doc_id, band, bkey) table every banded-join dedup consumer probes.
  * The layout is band-major: each writer task emits ONE FILE PER BAND it
  * sees (`b<band>-t<task>-<uuid>.gsb`), so the band a file holds is part
  * of its NAME and a probe for one band (the hot path of an incremental
  * dedup: "give me the store's band-3 buckets") opens only that band's
  * files — the pushed `band = k` / `band IN (...)` predicate prunes at
  * `planInputPartitions`, before a single byte is read. With B bands
  * (8 here) that is a guaranteed 1/B I/O cut per probed band on a store
  * of ANY size, on top of ordinary column pruning (a bkey-only bucket
  * histogram never materializes doc_ids).
  *
  * Commit protocol: writers write straight to uniquely-named final files
  * and report them in their commit messages; the driver's `commit` then
  * writes a `_manifest` listing exactly the committed files (via a
  * temp-file + rename, atomic on HDFS-like filesystems). Readers plan
  * ONLY manifest-listed files, so a torn job — writer files without a
  * manifest row, or an aborted overwrite — is invisible: the previous
  * manifest keeps serving the previous snapshot (the same
  * write-then-publish idea as the reference's temp-file + atomic-rename
  * reduce commit, ref src/mr/worker.go:208-218). Every publish also
  * writes an immutable `_manifest.v<N>` history entry, and NOTHING
  * deletes data files at commit time — `mode("overwrite")`, compaction,
  * and band deletes are all pure manifest swaps, so `versionAsOf` reads
  * time-travel to any retained generation and a reader racing an
  * overwrite keeps its planned files; reclamation is the explicit
  * [[BandStoreMaintenance.vacuum]].
  *
  * Record format: one `doc_id\tbkey` text line per row (band lives in the
  * file name, never repeated in the data); bkey is md5 hex, so the file
  * is pure ASCII and line-splittable. One file = one InputPartition —
  * at 100 TB the band store is O(docs × bands) short rows and each task's
  * per-band file is modest; a single giant file would need the usual
  * maxPartitionBytes-style splitting, which the manifest's recorded
  * lengths support but this implementation keeps whole-file.
  */
object BandStore {
  val ShortName = "graft-bands"
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", StringType, nullable = false)))
  val ManifestFile = "_manifest"

  /** One manifest row per data file. Beyond the band (which names the
    * file) the entry carries the file's STATISTICS — row count and
    * doc_id min/max, computed for free as the writer streams rows — so
    * the manifest answers two whole query classes without opening a
    * data file: doc_id range predicates skip non-overlapping files at
    * `planInputPartitions` (parquet-footer-style data skipping, but
    * driver-side from one small file), and count/min/max aggregates
    * collapse to metadata arithmetic (the `SELECT count(*) GROUP BY
    * band` a store monitor polls reads zero data bytes).
    */
  case class ManifestEntry(name: String, band: Int, len: Long,
                           rows: Long, minDoc: Long, maxDoc: Long)
  private[dsv2] val VersionPrefix = "_manifest.v"

  private[dsv2] def fs(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf)

  /** Committed manifest versions present at `root`, ascending. Every
    * publish writes an IMMUTABLE `_manifest.v<N>` beside the `_manifest`
    * pointer swap, so the store's whole history is addressable: a reader
    * holding `versionAsOf=N` sees exactly generation N's file set no
    * matter how many commits (or compactions) happened since — and,
    * because nothing deletes data files until [[BandStoreMaintenance
    * .vacuum]], those files are still on disk. Tmp files
    * (`_manifest.v3.tmp-…`) fail the numeric parse and are ignored.
    */
  private[graft] def listVersions(root: Path, conf: Configuration): Seq[Long] = {
    val f = fs(root, conf)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(VersionPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(VersionPrefix).toLong).toOption)
      .sorted
  }

  /** Manifest rows: `fileName\tband\tlength\trows\tminDoc\tmaxDoc`;
    * `#epoch\t<id>` comment rows record committed STREAMING epochs in
    * the same file, so the entry list and the epoch ledger swap in one
    * atomic rename.
    */
  private[dsv2] def readManifest(root: Path, conf: Configuration,
                                 version: Option[Long] = None): Seq[ManifestEntry] =
    readManifestFull(root, conf, version)._1

  private[graft] def readManifestFull(root: Path, conf: Configuration,
                                      version: Option[Long] = None)
      : (Seq[ManifestEntry], Set[Long]) = {
    val f = fs(root, conf)
    val m = version match {
      case Some(v) =>
        val p = new Path(root, s"$VersionPrefix$v")
        require(f.exists(p),
          s"graft-bands: no version $v at $root (available: " +
            s"${listVersions(root, conf).mkString(", ")}) — either never " +
            "committed or already vacuumed")
        p
      case None => new Path(root, ManifestFile)
    }
    if (!f.exists(m)) return (Seq.empty, Set.empty)
    val in = new BufferedReader(new InputStreamReader(f.open(m), StandardCharsets.UTF_8))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toSeq
      val (epochLines, entryLines) = lines.partition(_.startsWith("#epoch\t"))
      val entries = entryLines.map { line =>
        val Array(name, band, len, rows, lo, hi) = line.split("\t", 6)
        ManifestEntry(name, band.toInt, len.toLong, rows.toLong,
          lo.toLong, hi.toLong)
      }
      (entries, epochLines.map(_.split("\t", 2)(1).toLong).toSet)
    } finally in.close()
  }

  /** Publishes a new store generation: writes the immutable
    * `_manifest.v<N>` history entry FIRST, then swaps the `_manifest`
    * pointer (both via temp-file + rename). A crash between the two
    * leaves a version file the pointer never reached — current readers
    * are unaffected and the next publish just numbers past it. Returns
    * the committed version.
    */
  private[graft] def writeManifest(root: Path, conf: Configuration,
                                  entries: Seq[ManifestEntry],
                                  epochs: Set[Long] = Set.empty): Long = {
    val f = fs(root, conf)
    f.mkdirs(root)
    val next = listVersions(root, conf).lastOption.getOrElse(0L) + 1
    def publish(target: Path): Unit = {
      val tmp = new Path(root, s"${target.getName}.tmp-${UUID.randomUUID()}")
      val out = new OutputStreamWriter(f.create(tmp, true), StandardCharsets.UTF_8)
      try {
        epochs.toSeq.sorted.foreach(e => out.write(s"#epoch\t$e\n"))
        entries.foreach(e => out.write(
          s"${e.name}\t${e.band}\t${e.len}\t${e.rows}\t${e.minDoc}\t${e.maxDoc}\n"))
      } finally out.close()
      f.delete(target, false)
      require(f.rename(tmp, target),
        s"band store commit failed: cannot rename $tmp to $target")
    }
    publish(new Path(root, s"$VersionPrefix$next"))
    publish(new Path(root, ManifestFile))
    next
  }

  /** How a failed write deletes its files: a task's abort, every band
    * write's driver-side abort and a replayed streaming epoch's duplicate
    * attempt all end here. The files were never published, so no
    * manifest version names them; anything published is reclaimed only
    * by [[BandStoreMaintenance.vacuum]].
    */
  private[dsv2] def discard(root: Path, conf: Configuration,
                            names: Iterable[String]): Unit = {
    val f = fs(root, conf)
    names.foreach(n => f.delete(new Path(root, n), false))
  }
}

/** Store maintenance: the epoch-append write path accumulates one file
  * per (band, task, epoch) — correct, but a long-lived streaming ingest
  * turns the store into the classic small-files swamp (every probe pays
  * an open() per file). Compaction merges each band's files back to ~one
  * and publishes through the SAME atomic manifest swap readers already
  * trust, so a racing reader keeps the prior generation end-to-end.
  */
object BandStoreMaintenance {
  import org.apache.spark.sql.SparkSession

  /** Distributed in-place compaction: rows are re-read through the
    * connector, routed by band (one exchange), and each task writes one
    * file per band it holds; the manifest then swaps to exactly the new
    * file set, preserving the epoch ledger (compaction changes LAYOUT,
    * not content — a later epoch replay must still deduplicate). Returns
    * (filesBefore, filesAfter).
    *
    * `filesPerBand > 1` additionally RANGE-CLUSTERS doc_id within each
    * band (`repartitionByRange(band, doc_id)`): each band lands in ~that
    * many files with pairwise-DISJOINT doc_id ranges, so the manifest's
    * per-file min/max stats turn a doc_id point or range predicate into
    * a ~1/filesPerBand file prune WITHIN the probed band — the same
    * discipline as sorting parquet by its filter column, applied to the
    * store's second access path (epoch appends interleave doc ranges
    * across files, making the skip stats useless until a clustering
    * rewrite). At 100 TB this is the knob that keeps per-file sizes
    * bounded as the corpus grows: bands are fixed (B=8) but
    * filesPerBand scales with the doc count.
    *
    * Concurrency: single-maintainer, like the write path itself. The
    * swap re-reads the manifest and REFUSES to publish if a writer
    * committed since the snapshot — the store is then untouched and the
    * compacted files are unreachable orphans (never wrong reads). A
    * multi-writer deployment needs a CAS'd log (Delta-style) — out of
    * scope for this store.
    */
  def compact(spark: SparkSession, path: String,
              filesPerBand: Int = 1): (Int, Int) = {
    import spark.implicits._
    require(filesPerBand >= 1,
      s"compact: filesPerBand must be >= 1, got $filesPerBand")
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val (snapshot, _) = BandStore.readManifestFull(root, conf)
    if (snapshot.size <= 1) return (snapshot.size, snapshot.size)
    val sconf = new SerializableConfiguration(conf)
    val nBands = snapshot.map(_.band).distinct.size
    val loaded = spark.read.format(BandStore.ShortName).load(path)
    val routed =
      if (filesPerBand == 1)
        loaded.repartition(org.apache.spark.sql.functions.col("band"))
      else loaded.repartitionByRange(nBands * filesPerBand,
        org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("doc_id"))
    val written = routed
      .mapPartitions { it =>
        val files = new BandFileRouter(new Path(path), sconf.value,
          band => s"b$band-compact-${UUID.randomUUID()}.gsb")
        it.foreach { row =>
          files.write(row.getInt(row.fieldIndex("band")),
            row.getLong(row.fieldIndex("doc_id")),
            row.getString(row.fieldIndex("bkey")))
        }
        files.commit().iterator
      }.collect().toSeq // O(bands) rows — driver-adjacent by construction
    val (current, epochs) = BandStore.readManifestFull(root, conf)
    require(current.map(_.name).toSet == snapshot.map(_.name).toSet,
      s"a writer committed to $path during compaction — aborting with the " +
        "manifest untouched (the compacted files are unreachable orphans); " +
        "rerun when the store is quiescent")
    BandStore.writeManifest(root, conf, written, epochs)
    // the pre-compaction files stay on disk: older manifest versions
    // still reference them (time travel) and a reader that planned its
    // partitions from the prior manifest is still streaming them —
    // deletion is vacuum's job, after the retention window
    (snapshot.size, written.size)
  }

  /** Deletes everything unreachable from the retained manifest history:
    * manifest versions older than the newest `retainLast`, and any data
    * file no retained version (or the current pointer) references — the
    * deferred half of every overwrite, compaction, and band delete, and
    * the explicit end of the time-travel window. Listing and deletion are
    * driver-side O(files on disk), the same budget as compaction's swap;
    * like compaction this is a single-maintainer operation — a vacuum
    * racing an in-flight WRITER would reap its not-yet-committed files.
    * Returns (manifest versions dropped, data files deleted).
    */
  def vacuum(spark: SparkSession, path: String, retainLast: Int = 1): (Int, Int) = {
    require(retainLast >= 1, s"vacuum: retainLast must be >= 1, got $retainLast")
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val f = BandStore.fs(root, conf)
    if (!f.exists(root)) return (0, 0)
    val versions = BandStore.listVersions(root, conf)
    val dropped = versions.dropRight(retainLast)
    val live = versions.takeRight(retainLast)
      .flatMap(v => BandStore.readManifest(root, conf, Some(v)).map(_.name))
      .toSet ++ BandStore.readManifest(root, conf).map(_.name)
    val victims = f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".gsb") && !live.contains(n))
    victims.foreach(n => f.delete(new Path(root, n), false))
    dropped.foreach(v =>
      f.delete(new Path(root, s"${BandStore.VersionPrefix}$v"), false))
    (dropped.size, victims.size)
  }

  /** Change-data-feed between two committed store versions — the
    * row-level delta a downstream incremental consumer (a dedup-index
    * mirror, a cache, an audit log) applies instead of re-reading the
    * store: one row per inserted/deleted row image per commit step, with
    * `_change_type` ('insert' | 'delete') and `_commit_version` columns
    * appended to the store schema. An UPDATE surfaces as its delete +
    * insert pair (copy-on-write rewrites the affected file), and a
    * commit that only changes LAYOUT — compaction — cancels to NO
    * change rows, because the delta is computed over ROW MULTISETS, not
    * file names: per step, inserts = rows(files added) EXCEPT ALL
    * rows(files removed) and deletes = the converse, so rows that merely
    * moved files annihilate. This is exactly the semantics Delta's CDF
    * publishes (with dataChange=false commits skipped by flag where we
    * prove it by content).
    *
    * Unlike the streaming source — which must REFUSE rewriting commits
    * (a name-level file delta would re-read moved rows) — the change
    * feed handles them correctly by construction; it is the catch-up
    * path for a consumer whose offset window a compaction crossed.
    *
    * Scale: each step reads ONLY the two versions' symmetric-difference
    * files (a pure append reads just the appended files; a 0.1% MERGE
    * reads ~0.2% of the store), distributed via `spark.read.text` over
    * the explicit file list with the band joined back from the (tiny,
    * broadcast) manifest — never a full-store scan unless the step
    * itself rewrote the store. The EXCEPT ALL is one hash shuffle over
    * the changed-file rows. Versions must still be un-vacuumed; the
    * manifest read refuses loudly otherwise.
    */
  def changes(spark: SparkSession, path: String,
              from: Long, to: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val versions = BandStore.listVersions(root, conf)
    require(versions.contains(from),
      s"graft-bands changes: version $from not in history " +
        s"(${versions.mkString(", ")})")
    require(versions.contains(to) && from < to,
      s"graft-bands changes: need committed from < to, got $from..$to " +
        s"(history: ${versions.mkString(", ")})")
    val hist = from +: versions.filter(v => v > from && v <= to)

    def rowsOf(entries: Seq[BandStore.ManifestEntry])
        : org.apache.spark.sql.DataFrame = {
      if (entries.isEmpty)
        return spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](), BandStore.Schema)
      val byName = spark.createDataFrame(
        spark.sparkContext.parallelize(
          entries.map(e => org.apache.spark.sql.Row(e.name, e.band)), 1),
        StructType(Seq(StructField("f", StringType, nullable = false),
          StructField("band", IntegerType, nullable = false))))
      spark.read.textFile(
          entries.map(e => new Path(root, e.name).toString): _*)
        .select(element_at(split(input_file_name(), "/"), -1).as("f"),
          col("value"))
        .join(broadcast(byName), "f")
        .select(
          expr("CAST(substring_index(value, '\t', 1) AS BIGINT)")
            .as("doc_id"),
          col("band"),
          expr("substring(value, instr(value, '\t') + 1)").as("bkey"))
    }

    hist.sliding(2).collect { case Seq(a, b) =>
      val ea = BandStore.readManifest(root, conf, Some(a))
      val eb = BandStore.readManifest(root, conf, Some(b))
      val na = ea.map(_.name).toSet
      val nb = eb.map(_.name).toSet
      val addedRows = rowsOf(eb.filterNot(e => na(e.name)))
      val removedRows = rowsOf(ea.filterNot(e => nb(e.name)))
      addedRows.exceptAll(removedRows)
        .withColumn("_change_type", lit("insert"))
        .unionByName(removedRows.exceptAll(addedRows)
          .withColumn("_change_type", lit("delete")))
        .withColumn("_commit_version", lit(b))
    }.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        BandStore.Schema
          .add(StructField("_change_type", StringType, nullable = false))
          .add(StructField("_commit_version", LongType, nullable = false))))
  }
}

class BandStoreSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = BandStore.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BandStore.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    require(schema == BandStore.Schema,
      s"graft-bands has the fixed schema ${BandStore.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-bands requires a path")
    new BandStoreTable(path)
  }
}

class BandStoreTable(path: String, pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String =
    s"${BandStore.ShortName}($path${pinnedVersion.fold("")(v => s"@v$v")})"
  override def schema(): StructType = BandStore.Schema

  /** `_file`: the data file serving each row, from partition metadata
    * (zero read cost — the reader already knows it). The provenance
    * handle store audits need: join a corrupt-row report back to the
    * file to quarantine, or group by `_file` to see row distribution.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "band-store data file serving this row"
    })
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava

  private def hconf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `versionAsOf` (Delta's option name) time-travels the read: the scan
    // plans from the immutable `_manifest.v<N>` instead of the pointer.
    // `pinnedVersion` is the catalog's SQL `VERSION AS OF` arriving
    // through TableCatalog.loadTable(ident, version).
    val version = Option(options.get("versionAsOf")).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-bands: versionAsOf must be an integer version, got '$v'")
      }
    }.orElse(pinnedVersion)
    new BandScanBuilder(path, hconf, version)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      "graft-bands: a VERSION AS OF snapshot is read-only")
    new BandWriteBuilder(path, info.schema(), hconf)
  }

  /** Row-level DELETE / UPDATE / MERGE via group-based copy-on-write
    * ([[BandRowLevelOperation]]): Spark rewrites only the files whose
    * rows the condition touches (runtime group filtering on `_file`) and
    * the commit swaps them atomically in a new manifest version. Note
    * band-aligned deletes never get this far: Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` routes any condition
    * [[canDeleteWhere]] accepts back to the metadata-only
    * [[deleteWhere]] below.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      "graft-bands: a VERSION AS OF snapshot is read-only")
    () => new BandRowLevelOperation(path, info.command(), hconf)
  }

  /** Band deletes are METADATA-ONLY: the band is part of every file's
    * name, so `band = k` / `band IN (...)` predicates align exactly with
    * file boundaries and deleting those bands is a manifest rewrite that
    * touches zero data bytes — the lakehouse partition-drop fast path.
    * The dropped files stay on disk (older versions still serve them;
    * vacuum reclaims). Anything finer (doc_id/bkey predicates) takes the
    * copy-on-write row-level path above; `canDeleteWhere` refusing them
    * is what steers Spark there instead of a wrong metadata drop.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(BandPruning.isBandFilter)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      "graft-bands: a VERSION AS OF snapshot is read-only")
    require(canDeleteWhere(filters),
      s"graft-bands: only file-aligned band predicates delete without a " +
        s"rewrite; got ${filters.mkString(", ")}")
    val dropped = BandPruning(filters, Array.empty)
    val root = new Path(path)
    val conf = hconf
    val (entries, epochs) = BandStore.readManifestFull(root, conf)
    BandStore.writeManifest(root, conf,
      entries.filterNot(dropped.admits), epochs)
  }
}

// ---------------------------------------------------------------- read side

/** The store's one file-pruning rule: which pushed filters the file
  * layout answers, and which manifest files they admit. Every reader of
  * the manifest — batch scan, micro-batch stream, metadata aggregate,
  * copy-on-write rewrite scan, band delete — prunes through it.
  *
  * `bands` are `band = k` / `band IN (...)` predicates: the band names
  * the file, so they prune whole files exactly with no false drops.
  * `docSkip` are doc_id range/equality predicates, SKIP hints off the
  * manifest's per-file doc_id min/max (parquet-footer-style data
  * skipping, driver-side): a file whose recorded range cannot satisfy
  * one is never opened. Conservative by construction — overlap keeps the
  * file, and Spark re-evaluates the predicate on its rows.
  */
case class BandPruning(bands: Array[Filter], docSkip: Array[Filter]) {
  import BandPruning._

  /** What the scan builders report as `pushedFilters()`. */
  def pushed: Array[Filter] = bands ++ docSkip

  def admits(e: BandStore.ManifestEntry): Boolean =
    bands.forall(f => bandTest(f).forall(_(e.band))) &&
      docSkip.forall(f => docTest(f).forall(_(e)))

  /** This pruning plus the band filters among runtime (DPP) filters;
    * runtime doc_id sets would need row reads and are declined.
    */
  def withRuntime(filters: Array[Filter]): BandPruning =
    copy(bands = bands ++ filters.filter(isBandFilter))

  def describe: String =
    s"PushedBandFilters=${bands.mkString("[", ",", "]")} " +
      s"DocSkipFilters=${docSkip.mkString("[", ",", "]")}"
}

object BandPruning {
  val All: BandPruning = BandPruning(Array.empty, Array.empty)

  /** Splits pushed filters into the pruning they give and the filters
    * Spark must still evaluate on rows. Band predicates are fully
    * absorbed, so Spark need not re-check them. doc_id predicates are
    * kept as skip hints but also returned — a surviving file still holds
    * rows on both sides of the bound. Anything else (bkey predicates,
    * other shapes) is purely post-scan.
    */
  def push(filters: Array[Filter]): (BandPruning, Array[Filter]) = {
    val (bands, rest) = filters.partition(isBandFilter)
    (BandPruning(bands, rest.filter(docTest(_).isDefined)), rest)
  }

  def isBandFilter(f: Filter): Boolean = bandTest(f).isDefined

  private def bandTest(f: Filter): Option[Int => Boolean] = f match {
    case EqualTo("band", v: Int) => Some(_ == v)
    case In("band", vs) if vs.forall(_.isInstanceOf[Int]) => Some(b => vs.contains(b))
    case _ => None
  }

  private def docTest(f: Filter): Option[BandStore.ManifestEntry => Boolean] =
    f match {
      case EqualTo("doc_id", v: java.lang.Number) =>
        Some(e => e.minDoc <= v.longValue && v.longValue <= e.maxDoc)
      case GreaterThan("doc_id", v: java.lang.Number) => Some(_.maxDoc > v.longValue)
      case GreaterThanOrEqual("doc_id", v: java.lang.Number) => Some(_.maxDoc >= v.longValue)
      case LessThan("doc_id", v: java.lang.Number) => Some(_.minDoc < v.longValue)
      case LessThanOrEqual("doc_id", v: java.lang.Number) => Some(_.minDoc <= v.longValue)
      case _ => None
    }
}

class BandScanBuilder(path: String, conf: Configuration,
                      version: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pruning = BandPruning.All
  private var residual: Array[Filter] = Array.empty
  private var required: StructType = BandStore.Schema
  private var aggPushed: Option[BandAggregate] = None
  private var limitN: Option[Int] = None
  private var topN: Option[(Boolean, Int)] = None

  /** Absorbs what the file layout answers ([[BandPruning.push]]); the
    * rest, doc_id skip hints included, is the residual Spark evaluates.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, rest) = BandPruning.push(filters)
    pruning = p
    residual = rest
    rest
  }
  override def pushedFilters(): Array[Filter] = pruning.pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** count(*) / count(doc_id) / min/max(doc_id or band), optionally
    * grouped by band, collapse to manifest arithmetic — but ONLY when no
    * residual row-level filter survives (band filters are exact at file
    * granularity; anything else would need the rows). Complete pushdown:
    * the manifest's counts are exact, not estimates, so Spark plans no
    * re-aggregation.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    residual.isEmpty && BandAggregate.translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (residual.nonEmpty) return false
    BandAggregate.translate(agg) match {
      case some @ Some(_) => aggPushed = some; true
      case None => false
    }
  }

  /** LIMIT pushdown — PARTIAL by contract (each partition caps locally;
    * Spark keeps the global limit). Two payoffs: `planInputPartitions`
    * keeps only the minimal FILE PREFIX whose manifest row counts cover
    * the limit, and each surviving reader stops after `limit` rows.
    * Accepted only when no row-level residual filter survives — a
    * post-scan filter would re-shrink a truncated scan below the limit
    * (Spark's own push rule guards the same way; this is belt-and-braces
    * for a hand-built builder).
    */
  override def pushLimit(limit: Int): Boolean = {
    if (residual.nonEmpty) return false
    limitN = Some(limit); true
  }
  override def isPartiallyPushed(): Boolean = true

  /** Top-N pushdown on `doc_id` (either direction) — also PARTIAL. The
    * manifest's per-file doc_id min/max bound the k-th extreme: the
    * minimal prefix of files (by maxDoc asc, for ASC) whose rows cover N
    * yields a value bound no top-N row can exceed, and every file wholly
    * beyond it is never opened — effective exactly when the layout
    * range-clusters doc_id ([[BandStoreMaintenance.compact]]'s
    * filesPerBand mode). Surviving readers keep a bounded N-row heap, so
    * a huge file returns N rows, not its row count. Multi-key orders are
    * declined (a local single-key heap could evict a row the global
    * tie-break needed).
    */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (residual.nonEmpty) return false
    orders match {
      case Array(o) => o.expression() match {
        case n: NamedReference if n.fieldNames.sameElements(Array("doc_id")) =>
          topN = Some((o.direction() == SortDirection.ASCENDING, limit))
          true
        case _ => false
      }
      case _ => false
    }
  }

  override def build(): Scan = aggPushed match {
    case Some(agg) =>
      new BandAggregateScan(path, conf, pruning, version, agg)
    case None =>
      new BandScan(path, conf, pruning, required, version, limitN, topN)
  }
}

class BandScan(path: String, conf: Configuration, pruning: BandPruning,
               required: StructType,
               version: Option[Long] = None,
               limitN: Option[Int] = None,
               topN: Option[(Boolean, Int)] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {
  override def readSchema(): StructType = required

  /** Storage-partitioned execution: the band-per-file layout IS a
    * key-grouped partitioning on `band`, and reporting it lets Spark
    * skip the shuffle for any clustering the layout already satisfies —
    * per-band aggregation runs exchange-free, and two band stores join
    * on `band` as a storage-partitioned join (each task reads the SAME
    * band's files from both stores; with B bands and F files that is
    * the co-located probe a 100 TB signature store needs: the corpus
    * side is never re-shuffled to meet the delta side). Requires
    * `spark.sql.sources.v2.bucketing.enabled`; each [[BandFilePartition]]
    * carries its band as the partition key and Spark groups same-band
    * files into one task. When `band` is pruned out of the read schema
    * the grouping key is unresolvable — report unknown instead.
    */
  override def outputPartitioning(): Partitioning = {
    val bands = kept.map(_.band).distinct
    if (required.fieldNames.contains("band") && bands.nonEmpty)
      new KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity("band")), bands.size)
    else new UnknownPartitioning(kept.size)
  }

  /** Runtime (DPP-style) pruning: when this scan joins a dimension on
    * `band`, Spark evaluates the dimension's distinct band keys at run
    * time and hands them here before re-planning partitions — so only
    * the joined bands' files are ever opened, without the user writing a
    * band predicate. `band` is the one attribute file pruning can answer
    * exactly; runtime doc_id sets would need row reads and are declined.
    */
  private var admitting: BandPruning = pruning

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("band"))

  override def filter(filters: Array[Filter]): Unit =
    admitting = pruning.withRuntime(filters)

  private lazy val allEntries =
    BandStore.readManifest(new Path(path), conf, version)
  // NOT a lazy val: runtime filters arrive AFTER the initial planning
  // forced the statistics/description, and BatchScanExec re-invokes
  // planInputPartitions post-filter — the admitted set must re-evaluate
  private def kept = {
    val admitted = allEntries.filter(admitting.admits)
    (topN, limitN) match {
      case (Some((asc, n)), _) =>
        // the n-th extreme doc_id is bounded by the minimal file prefix
        // (ordered by each file's FAR edge) whose rows cover n; any file
        // wholly beyond that bound cannot hold a top-N row. Conservative:
        // overlap keeps the file, Spark re-sorts globally.
        val byEdge =
          if (asc) admitted.sortBy(_.maxDoc) else admitted.sortBy(-_.minDoc)
        var cum = 0L
        var bound = if (asc) Long.MaxValue else Long.MinValue
        val it = byEdge.iterator
        while (cum < n && it.hasNext) {
          val e = it.next(); cum += e.rows
          bound = if (asc) e.maxDoc else e.minDoc
        }
        if (cum < n) admitted
        else if (asc) admitted.filter(_.minDoc <= bound)
        else admitted.filter(_.maxDoc >= bound)
      case (None, Some(n)) =>
        // a bare LIMIT is satisfied by ANY n rows: keep the minimal
        // file prefix covering it
        var cum = 0L
        admitted.takeWhile { e => val take = cum < n; cum += e.rows; take }
      case _ => admitted
    }
  }
  private def total = allEntries.size

  override def description(): String = {
    val bands = kept.map(_.band).distinct.sorted
    val lim = limitN.map(n => s" PushedLimit=$n").getOrElse("")
    val top = topN.map { case (asc, n) =>
      s" PushedTopN=doc_id ${if (asc) "ASC" else "DESC"},$n"
    }.getOrElse("")
    s"graft-bands path=$path version=${version.getOrElse("current")} " +
      s"${pruning.describe}$lim$top " +
      s"bands=${bands.mkString("[", ",", "]")} files=${kept.size}/$total"
  }

  override def toBatch: Batch = this

  /** Post-pruning size AND row count from the manifest's recorded file
    * statistics — so Catalyst's join planning sees the PROBED bands'
    * bytes, not the whole store's: a one-band probe of a huge store
    * stays broadcast-eligible.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.len).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.rows).sum)
  }

  override def planInputPartitions(): Array[InputPartition] =
    kept.map { e =>
      BandFilePartition(new Path(new Path(path), e.name).toString, e.band,
        e.len): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new BandReaderFactory(new SerializableConfiguration(conf), required,
      limitN, topN)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BandMicroBatchStream(path, conf, pruning, required)
}

/** The versioned manifest doubles as a STREAM LOG: every commit IS an
  * offset (its version number), and the micro-batch between two offsets
  * is exactly the files version `end` lists that version `start` didn't —
  * append-only commits make that a precise, replayable delta with no
  * extra bookkeeping (the same observation behind Delta's streaming
  * source). Restart recovery is free: the checkpointed offset names a
  * version whose file set is immutable. Pushed band filters and doc_id
  * skip hints prune each micro-batch's delta exactly like a batch scan.
  *
  * Two loud refusals instead of wrong answers: a REWRITING commit inside
  * the window (compact/overwrite/delete renames or removes files, so a
  * name-level delta would re-read or lose rows) and a VACUUMED start
  * version (its manifest is gone). Both are maintenance operations the
  * store documents as single-maintainer — run them with the stream down,
  * as Delta does with its `ignoreChanges` family of escapes.
  */
class BandMicroBatchStream(path: String, conf: Configuration,
                           pruning: BandPruning, required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val root = new Path(path)

  override def initialOffset(): Offset = BandVersionOffset(0L)

  override def latestOffset(): Offset = BandVersionOffset(
    BandStore.listVersions(root, conf).lastOption.getOrElse(0L))

  override def deserializeOffset(json: String): Offset =
    BandVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BandVersionOffset].version
    val e = end.asInstanceOf[BandVersionOffset].version
    if (e <= s) return Array.empty
    val startFiles =
      if (s == 0) Set.empty[String]
      else BandStore.readManifest(root, conf, Some(s)).map(_.name).toSet
    val endEntries = BandStore.readManifest(root, conf, Some(e))
    require(startFiles.subsetOf(endEntries.map(_.name).toSet),
      s"graft-bands stream: versions $s -> $e of $path include a rewriting " +
        "commit (compact/overwrite/delete) — a name-level delta would " +
        "re-read or lose rows. Run store maintenance with the stream down.")
    endEntries
      .filterNot(en => startFiles.contains(en.name))
      .filter(pruning.admits)
      .map(en => BandFilePartition(new Path(root, en.name).toString,
        en.band, en.len): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BandReaderFactory(new SerializableConfiguration(conf), required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class BandVersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

case class BandFilePartition(file: String, band: Int, length: Long)
    extends InputPartition with HasPartitionKey {
  /** The file's band, as the key-grouped partitioning's key row — Spark
    * groups same-key files into one task under
    * [[BandScan.outputPartitioning]].
    */
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(band)
}

class BandReaderFactory(conf: SerializableConfiguration, required: StructType,
                        limitN: Option[Int] = None,
                        topN: Option[(Boolean, Int)] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val base = new BandFileReader(
      partition.asInstanceOf[BandFilePartition], conf.value, required)
    topN match {
      // the scan only accepts a top-N when doc_id is in the read schema
      // (the sort references it); the contains check is belt-and-braces
      case Some((asc, n)) if required.fieldNames.contains("doc_id") =>
        new BandTopNReader(base, required.fieldIndex("doc_id"), asc, n)
      case _ => limitN match {
        case Some(n) => new BandCappedReader(base, n)
        case None => base
      }
    }
  }
}

/** Partial-LIMIT reader: emits at most `n` rows of the underlying file —
  * any n rows satisfy a bare LIMIT; Spark applies the global one.
  */
class BandCappedReader(under: PartitionReader[InternalRow], n: Int)
    extends PartitionReader[InternalRow] {
  private var seen = 0
  override def next(): Boolean =
    seen < n && under.next() && { seen += 1; true }
  override def get(): InternalRow = under.get()
  override def close(): Unit = under.close()
}

/** Partial top-N reader: a bounded n-row heap on doc_id, so a partition
  * returns n rows instead of its file's row count. Emission order is
  * arbitrary — the pushdown is partial and Spark re-sorts globally.
  * Memory is O(n) rows ([[BandFileReader.get]] materializes a fresh row
  * per call, so retaining them is safe).
  */
class BandTopNReader(under: PartitionReader[InternalRow], docIdx: Int,
                     asc: Boolean, n: Int)
    extends PartitionReader[InternalRow] {
  private lazy val rows: Iterator[InternalRow] = {
    // for ASC (n smallest) the heap's head is the largest kept — evict it
    // when a smaller row arrives; DESC mirrors
    val ord = Ordering.by[(Long, InternalRow), Long](_._1)
    val heap = new mutable.PriorityQueue[(Long, InternalRow)]()(
      if (asc) ord else ord.reverse)
    while (under.next()) {
      val r = under.get()
      val k = r.getLong(docIdx)
      if (heap.size < n) heap.enqueue((k, r))
      else if ((asc && k < heap.head._1) || (!asc && k > heap.head._1)) {
        heap.dequeue(); heap.enqueue((k, r))
      }
    }
    heap.toArray.map(_._2).iterator
  }
  private var cur: InternalRow = _
  override def next(): Boolean = {
    val h = rows.hasNext
    if (h) cur = rows.next()
    h
  }
  override def get(): InternalRow = cur
  override def close(): Unit = under.close()
}

/** Streams one band file; emits only the pruned columns. The band column
  * is served from the partition metadata (file name), never parsed.
  */
class BandFileReader(part: BandFilePartition, conf: Configuration,
                     required: StructType) extends PartitionReader[InternalRow] {
  private val in = {
    val p = new Path(part.file)
    new BufferedReader(new InputStreamReader(
      BandStore.fs(p, conf).open(p), StandardCharsets.UTF_8))
  }
  // one extractor per required column, bound once (not per row)
  private val extract: Array[(String) => Any] = required.fields.map { f =>
    f.name match {
      case "doc_id" => (line: String) =>
        java.lang.Long.parseLong(line.substring(0, line.indexOf('\t')))
      case "band" => (_: String) => part.band
      case "bkey" => (line: String) =>
        UTF8String.fromString(line.substring(line.indexOf('\t') + 1))
      case "_file" => // metadata column: served from partition metadata
        val name = UTF8String.fromString(new Path(part.file).getName)
        (_: String) => name
      case other => throw new IllegalArgumentException(
        s"graft-bands has no column '$other'")
    }
  }
  private var line: String = _

  override def next(): Boolean = { line = in.readLine(); line != null }
  override def get(): InternalRow =
    new GenericInternalRow(extract.map(_(line)).toArray[Any])
  override def close(): Unit = in.close()
}

// ----------------------------------------------- metadata-only aggregates

/** The manifest-answerable aggregate shapes: an optional `GROUP BY band`
  * plus any mix of count(* or a non-null column) and min/max over doc_id
  * or band — every value is exact arithmetic over the manifest's per-file
  * statistics, so the "how big is my store per band" monitoring query a
  * 100 TB deployment polls constantly reads zero data bytes.
  */
private[dsv2] case class BandAggregate(groupByBand: Boolean,
                                       aggs: Seq[BandAggregate.Agg])

private[dsv2] object BandAggregate {
  sealed trait Agg
  case object RowCount extends Agg
  case object MinDoc extends Agg
  case object MaxDoc extends Agg
  case object MinBand extends Agg
  case object MaxBand extends Agg

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
    case _ => None
  }

  def translate(agg: Aggregation): Option[BandAggregate] = {
    val group = agg.groupByExpressions() match {
      case Array() => Some(false)
      case Array(g) if colName(g).contains("band") => Some(true)
      case _ => None
    }
    val aggs: Seq[Option[Agg]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(RowCount)
      case c: Count if !c.isDistinct &&
          colName(c.column).exists(Set("doc_id", "band", "bkey")) =>
        Some(RowCount) // every store column is non-null: count(col) == count(*)
      case m: Min => colName(m.column) match {
        case Some("doc_id") => Some(MinDoc)
        case Some("band") => Some(MinBand)
        case _ => None
      }
      case m: Max => colName(m.column) match {
        case Some("doc_id") => Some(MaxDoc)
        case Some("band") => Some(MaxBand)
        case _ => None
      }
      case _ => None
    }
    if (group.isDefined && aggs.nonEmpty && aggs.forall(_.isDefined))
      Some(BandAggregate(group.get, aggs.map(_.get)))
    else None
  }
}

/** Answers a pushed aggregate ENTIRELY from the manifest: the single
  * input partition carries the precomputed result rows and no data file
  * is ever opened (SourcesSpec proves it by deleting them first). Output
  * schema is group columns then aggregate columns, positionally — the
  * DSv2 aggregate-pushdown contract.
  */
class BandAggregateScan(path: String, conf: Configuration,
                        pruning: BandPruning, version: Option[Long],
                        agg: BandAggregate) extends Scan with Batch {
  import BandAggregate._

  private lazy val kept =
    BandStore.readManifest(new Path(path), conf, version)
      .filter(pruning.admits)

  override def readSchema(): StructType = {
    val groupCols =
      if (agg.groupByBand) Seq(StructField("band", IntegerType, nullable = false))
      else Nil
    val aggCols = agg.aggs.zipWithIndex.map {
      case (RowCount, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (MinDoc | MaxDoc, i) => StructField(s"agg_$i", LongType, nullable = true)
      case (MinBand | MaxBand, i) => StructField(s"agg_$i", IntegerType, nullable = true)
    }
    StructType(groupCols ++ aggCols)
  }

  private def resultRows(): Seq[InternalRow] = {
    def rowOf(band: Option[Int],
              files: Seq[BandStore.ManifestEntry]): InternalRow = {
      val vals: Seq[Any] = agg.aggs.map {
        case RowCount => java.lang.Long.valueOf(files.map(_.rows).sum)
        case MinDoc =>
          if (files.isEmpty) null else java.lang.Long.valueOf(files.map(_.minDoc).min)
        case MaxDoc =>
          if (files.isEmpty) null else java.lang.Long.valueOf(files.map(_.maxDoc).max)
        case MinBand =>
          if (files.isEmpty) null else java.lang.Integer.valueOf(files.map(_.band).min)
        case MaxBand =>
          if (files.isEmpty) null else java.lang.Integer.valueOf(files.map(_.band).max)
      }
      new GenericInternalRow(
        (band.map(java.lang.Integer.valueOf(_): Any).toSeq ++ vals).toArray)
    }
    if (agg.groupByBand)
      kept.groupBy(_.band).toSeq.sortBy(_._1)
        .map { case (b, fs) => rowOf(Some(b), fs) }
    else Seq(rowOf(None, kept))
  }

  override def description(): String =
    s"graft-bands METADATA-ONLY aggregate path=$path " +
      s"version=${version.getOrElse("current")} " +
      s"PushedBandFilters=${pruning.bands.mkString("[", ",", "]")} " +
      s"groupByBand=${agg.groupByBand} aggs=${agg.aggs.mkString(",")} " +
      s"files=${kept.size}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(BandAggPartition(resultRows()))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[BandAggPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

case class BandAggPartition(rows: Seq[InternalRow]) extends InputPartition

// --------------------------------------------------------------- write side

class BandWriteBuilder(path: String, inputSchema: StructType, conf: Configuration)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new BandBatchWrite(path, inputSchema, overwrite,
        new SerializableConfiguration(conf))
    override def toStreaming: StreamingWrite = {
      require(!overwrite,
        "graft-bands streams in append mode only (a band store is an " +
          "accumulating corpus index; complete-mode rewrites don't apply)")
      new BandStreamingWrite(path, inputSchema,
        new SerializableConfiguration(conf))
    }
  }
}

case class BandCommitMessage(files: Seq[BandStore.ManifestEntry])
    extends WriterCommitMessage

object BandCommitMessage {
  /** Every file the task commits of one write report. Spark hands an
    * abort null for a task that never committed; it reports none.
    */
  def filesOf(messages: Array[WriterCommitMessage]): Seq[BandStore.ManifestEntry] =
    messages.toSeq.flatMap {
      case BandCommitMessage(files) => files
      case _ => Nil
    }

  /** The one driver-side abort of every band write (batch, streaming,
    * copy-on-write): delete the files its committed tasks wrote.
    */
  def abort(path: String, conf: Configuration,
            messages: Array[WriterCommitMessage]): Unit =
    BandStore.discard(new Path(path), conf, filesOf(messages).map(_.name))
}

/** Per-open-file write-side bookkeeping: the stream writer plus the
  * statistics its manifest entry will carry (row count, doc_id min/max),
  * maintained as rows flow — stats cost nothing at write time and pay at
  * every skip-read and metadata aggregate.
  */
private[dsv2] final class BandFileStats(val name: String, val writer: Writer) {
  private var rows = 0L
  private var lo = Long.MaxValue
  private var hi = Long.MinValue
  def record(docId: Long, bkey: String): Unit = {
    writer.write(s"$docId\t$bkey\n")
    rows += 1
    if (docId < lo) lo = docId
    if (docId > hi) hi = docId
  }
  def entry(band: Int, len: Long): BandStore.ManifestEntry =
    BandStore.ManifestEntry(name, band, len, rows, lo, hi)
}

class BandBatchWrite(path: String, inputSchema: StructType, overwrite: Boolean,
                     conf: SerializableConfiguration) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BandWriterFactory(path, inputSchema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = BandCommitMessage.filesOf(messages)
    val root = new Path(path)
    val hconf = conf.value
    val (prior, epochs) = BandStore.readManifestFull(root, hconf)
    val entries = if (overwrite) committed else prior ++ committed
    // overwrite resets the streaming-epoch ledger (new store generation);
    // append preserves it so a later epoch replay still deduplicates
    BandStore.writeManifest(root, hconf, entries,
      if (overwrite) Set.empty else epochs)
    // an overwrite does NOT delete the prior generation's files: they are
    // still referenced by the older manifest versions (time travel), and
    // a racing reader that planned its partitions from the old manifest
    // may still be mid-scan of them — the immediate-reap design had
    // exactly that use-after-free. Reclamation is deferred to the
    // explicit BandStoreMaintenance.vacuum, after the retention window.
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    BandCommitMessage.abort(path, conf.value, messages)
}

class BandWriterFactory(path: String, inputSchema: StructType,
                        conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BandDataWriter(path, inputSchema, partitionId, taskId, conf.value)
}

/** Streaming (micro-batch) append into the band store. Writers are the
  * batch writers with an epoch tag in the file name; the driver-side
  * epoch commit is IDEMPOTENT through the manifest's epoch ledger: a
  * replayed epoch (Structured Streaming re-runs an epoch whose commit
  * outcome is unknown after a failure) finds its id already recorded,
  * discards the duplicate attempt's files, and leaves the manifest
  * untouched — the store never double-counts a micro-batch, which is the
  * exactly-once contract a dedup index needs (a duplicated band row
  * would only cost work, but a duplicated STORE GENERATION of the same
  * batch would pair every doc with itself at the next probe).
  */
class BandStreamingWrite(path: String, inputSchema: StructType,
                         conf: SerializableConfiguration) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new BandStreamingWriterFactory(path, inputSchema, conf)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val committed = BandCommitMessage.filesOf(messages)
    val root = new Path(path)
    val hconf = conf.value
    val (prior, epochs) = BandStore.readManifestFull(root, hconf)
    if (epochs.contains(epochId)) {
      // replayed epoch: the first attempt's files are live — drop ours
      BandStore.discard(root, hconf, committed.map(_.name))
    } else {
      BandStore.writeManifest(root, hconf, prior ++ committed,
        epochs + epochId)
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    BandCommitMessage.abort(path, conf.value, messages)
}

class BandStreamingWriterFactory(path: String, inputSchema: StructType,
                                 conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new BandDataWriter(path, inputSchema, partitionId, taskId, conf.value,
      tag = s"e$epochId-")
}

/** Routes rows to one open file per band value seen by one task and
  * turns the files into manifest entries: the writer of every band write
  * ([[BandDataWriter]]) and of compaction's tasks. It takes the row's
  * three values, not the row, so callers with `InternalRow` and `Row`
  * share it. Band cardinality is the LSH parameter B (8), so at most B
  * small files and B open handles per task regardless of row count.
  */
private[dsv2] final class BandFileRouter(root: Path, conf: Configuration,
                                         fileName: Int => String) {
  private val filesys = BandStore.fs(root, conf)
  filesys.mkdirs(root)
  private val open = mutable.Map.empty[Int, BandFileStats]

  def write(band: Int, docId: Long, bkey: String): Unit =
    open.getOrElseUpdate(band, {
      val name = fileName(band)
      new BandFileStats(name, new OutputStreamWriter(
        filesys.create(new Path(root, name), false), StandardCharsets.UTF_8))
    }).record(docId, bkey)

  /** Closes every file and returns its manifest entry. */
  def commit(): Seq[BandStore.ManifestEntry] = {
    open.values.foreach(_.writer.close())
    open.toSeq.map { case (band, st) =>
      st.entry(band, filesys.getFileStatus(new Path(root, st.name)).getLen)
    }
  }

  def abort(): Unit = {
    close()
    BandStore.discard(root, conf, open.values.map(_.name))
  }

  def close(): Unit =
    open.values.foreach(v => scala.util.Try(v.writer.close()))
}

/** The DSv2 task writer of every band write: [[BandFileRouter]] over
  * `InternalRow`s.
  */
class BandDataWriter(path: String, inputSchema: StructType, partitionId: Int,
                     taskId: Long, conf: Configuration, tag: String = "")
    extends DataWriter[InternalRow] {
  private val idxDoc = inputSchema.fieldIndex("doc_id")
  private val idxBand = inputSchema.fieldIndex("band")
  private val idxBkey = inputSchema.fieldIndex("bkey")
  private val files = new BandFileRouter(new Path(path), conf, band =>
    s"b$band-${tag}p$partitionId-t$taskId-${UUID.randomUUID()}.gsb")

  override def write(row: InternalRow): Unit =
    files.write(row.getInt(idxBand), row.getLong(idxDoc),
      row.getUTF8String(idxBkey).toString)

  override def commit(): WriterCommitMessage = BandCommitMessage(files.commit())

  override def abort(): Unit = files.abort()

  override def close(): Unit = files.close()
}
