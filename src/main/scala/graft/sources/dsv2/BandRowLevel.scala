package graft.sources.dsv2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Row-level DELETE / UPDATE / MERGE on the band store, as a group-based
  * COPY-ON-WRITE rewrite through Spark's `SupportsRowLevelOperations`
  * contract — the fine-grained half of the store's mutation surface.
  * Band-aligned deletes stay METADATA-ONLY (the file name carries the
  * band, so dropping a band is a manifest rewrite; Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` recovers that fast path from the
  * rewritten plan whenever [[BandStoreTable.canDeleteWhere]] accepts the
  * condition). Anything finer — `DELETE ... WHERE doc_id % 7 = 0`,
  * `UPDATE ... SET bkey = ...`, `MERGE INTO` — lands here: Spark reads
  * the AFFECTED FILES (the store's rewrite "groups" — one file is the
  * finest unit the layout can replace), recomputes their surviving /
  * updated / inserted rows, writes replacement files through the normal
  * band-routed writers, and the commit swaps exactly
  * `replaced files → new files` in one atomic versioned manifest publish.
  *
  * Scale shape: the expensive part of copy-on-write is HOW MANY files are
  * rewritten, so the rewrite scan implements `SupportsRuntimeV2Filtering`
  * on the `_file` metadata column — Spark plans a matching-files subquery
  * from the operation's condition (dynamic pruning, the same machinery as
  * partition DPP), and only files that actually CONTAIN matching rows are
  * read and replaced. A `MERGE` touching 0.1% of a 100 TB store rewrites
  * that 0.1% of files; everything else is never opened and keeps its
  * manifest entry byte-for-byte. Static band predicates and the
  * manifest's doc_id min/max stats prune the same way they do for reads.
  *
  * Versioning: a row-level commit is an ordinary manifest publish — the
  * pre-image version still serves the old rows (time travel), vacuum
  * reaps the replaced files after the retention window, and the
  * streaming-source refusal for rewriting commits applies (run mutations
  * with a store-tailing stream down, as with compaction).
  */
class BandRowLevelOperation(path: String, cmd: Command, conf: Configuration)
    extends RowLevelOperation {

  /** The files the rewrite scan finally planned (post static pruning AND
    * post runtime group filtering) — exactly the groups whose rows were
    * handed to the ReplaceData query, so exactly the manifest entries the
    * commit must drop. Written by [[BandRewriteScan.planInputPartitions]]
    * on the driver before any write task launches; read by
    * [[BandReplaceDataWrite.commit]] after all of them finish.
    */
  @volatile private[dsv2] var replacedFiles: Seq[BandStore.ManifestEntry] =
    Seq.empty

  override def command(): Command = cmd

  override def description(): String =
    s"graft-bands copy-on-write $cmd path=$path"

  /** `_file` rides the rewrite scan so the runtime group filter can name
    * matching files and the replaced set is provenance-exact.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BandRewriteScanBuilder(path, conf, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new BandReplaceDataWrite(path, info.schema(),
            new SerializableConfiguration(conf), BandRowLevelOperation.this)
      }
    }
}

/** The rewrite scan's builder: the same file-aligned pushdown rule as
  * the read path ([[BandPruning]]) — band predicates prune whole
  * files exactly, doc_id bounds skip via the manifest's per-file stats —
  * but file-level ONLY: a group-based rewrite must see EVERY row of an
  * admitted file (survivors are written back), so nothing here may drop
  * individual rows. Absorbing band predicates is safe precisely because
  * they are file-aligned: a pruned file is not replaced, and an admitted
  * file's rows all satisfy the band predicate by layout.
  */
class BandRewriteScanBuilder(path: String, conf: Configuration,
                             op: BandRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pruning = BandPruning.All
  private var required: StructType = BandStore.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, rest) = BandPruning.push(filters)
    pruning = p
    rest
  }
  override def pushedFilters(): Array[Filter] = pruning.pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new BandRewriteScan(path, conf, pruning, required, op)
}

/** Plans the affected-file partitions for a copy-on-write rewrite and
  * records them on the operation for the commit's manifest swap. Runtime
  * group filtering arrives as V2 predicates on `_file` (built by Spark's
  * `RowLevelOperationRuntimeGroupFiltering` from the operation condition)
  * and shrinks the replaced set to files that actually hold matching
  * rows.
  */
class BandRewriteScan(path: String, conf: Configuration, pruning: BandPruning,
                      required: StructType, op: BandRowLevelOperation)
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  /** Admitted file names from the runtime group filter; None until (or
    * unless) one arrives — absent or unparseable predicates degrade to
    * "rewrite every statically-admitted file", which is correct, just
    * wider.
    */
  private var runtimeFileSet: Option[Set[String]] = None

  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(fileSetOf)
    if (sets.nonEmpty) runtimeFileSet = Some(sets.reduce(_ intersect _))
  }

  private def isFileRef(e: V2Expression): Boolean = e match {
    case n: NamedReference => n.fieldNames.sameElements(Array("_file"))
    case _ => false
  }
  private def litString(e: V2Expression): Option[String] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      Option(l.value).map(_.toString)
    case _ => None
  }
  private def fileSetOf(p: Predicate): Option[Set[String]] = p.name() match {
    case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
      val vals = p.children().drop(1).flatMap(litString)
      // only absorb a fully-literal IN list — a partial parse would
      // silently widen a delete into files the condition never matched
      if (vals.length == p.children().length - 1) Some(vals.toSet) else None
    case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
      litString(p.children()(1)).map(Set(_))
    case _ => None
  }

  // re-read per call like the read scan: runtime filters arrive after
  // initial planning, and the commit must see the FINAL planned set
  private lazy val allEntries =
    BandStore.readManifest(new Path(path), conf)
  private def kept = allEntries.filter(e =>
    pruning.admits(e) && runtimeFileSet.forall(_.contains(e.name)))

  override def description(): String = {
    val k = kept
    s"graft-bands REWRITE path=$path ${pruning.describe} " +
      s"runtimeFiles=${runtimeFileSet.fold("all")(_.size.toString)} " +
      s"files=${k.size}/${allEntries.size}"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val k = kept
    op.replacedFiles = k
    k.map { e =>
      BandFilePartition(new Path(new Path(path), e.name).toString, e.band,
        e.len): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BandReaderFactory(new SerializableConfiguration(conf), required)
}

/** The write half of the copy-on-write: ordinary band-routed writers
  * (one replacement file per band per task, uniquely named), then a
  * commit that swaps `replaced → new` in one atomic versioned manifest
  * publish. Like compaction, the swap REFUSES if a concurrent commit
  * removed any replaced file from the manifest — the rewrite's files
  * become unreachable orphans for vacuum, and the store is untouched
  * (never a torn mutation). Concurrent pure APPENDS are safe and
  * preserved: the swap drops only the replaced names from whatever the
  * manifest holds at commit time.
  */
class BandReplaceDataWrite(path: String, inputSchema: StructType,
                           conf: SerializableConfiguration,
                           op: BandRowLevelOperation) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BandWriterFactory(path, inputSchema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = BandCommitMessage.filesOf(messages)
    val root = new Path(path)
    val hconf = conf.value
    val (prior, epochs) = BandStore.readManifestFull(root, hconf)
    val replaced = op.replacedFiles.map(_.name).toSet
    require(replaced.subsetOf(prior.map(_.name).toSet),
      s"graft-bands: a commit rewrote $path during the row-level " +
        s"${op.command()} — aborting with the manifest untouched (the " +
        "rewrite's files are unreachable orphans for vacuum); rerun when " +
        "the store is quiescent")
    // epoch ledger preserved: a row-level rewrite changes CONTENT, not
    // the set of streaming micro-batches already ingested
    BandStore.writeManifest(root, hconf,
      prior.filterNot(e => replaced.contains(e.name)) ++ committed, epochs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    BandCommitMessage.abort(path, conf.value, messages)
}
