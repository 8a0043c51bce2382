package graft

import graft.sources.Sources
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The format round-trips gate (src_jsonl / src_csv): the engine-independent
  * invariant is that the fidelity summary AFTER write→read through the text
  * format equals the summary of the decorated frame computed directly —
  * DuckDB parity of the summary construction itself is the driver's job.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def direct() =
    Sources.fidelitySummary(
      Sources.decorate(Tables.load(spark, TestSpark.sf0001, "documents")))
      .collect().map(_.toString).toSeq

  test("decoration actually injects the adversarial characters") {
    val dec = Sources.decorate(Tables.load(spark, TestSpark.sf0001, "documents"))
    val n = dec.agg(
      sum(when(col("text").contains("\n"), 1).otherwise(0)),
      sum(when(col("text").contains(","), 1).otherwise(0)),
      sum(when(col("text").startsWith("\""), 1).otherwise(0)),
      sum(when(col("text").contains("π"), 1).otherwise(0))).head()
    assert(n.getLong(0) > 0, "no newline docs")
    assert(n.getLong(1) > 0, "no comma docs")
    assert(n.getLong(2) > 0, "no quoted docs")
    assert(n.getLong(3) > 0, "no non-ASCII docs")
  }

  test("JSONL round-trip is lossless under newlines/quotes/commas/unicode") {
    assert(Sources.jsonlRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq === direct())
  }

  test("CSV round-trip is lossless under newlines/quotes/commas/unicode") {
    assert(Sources.csvRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq === direct())
  }

  test("ORC round-trip is lossless under newlines/quotes/commas/unicode") {
    assert(Sources.orcRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq === direct())
  }

  test("zstd parquet round-trip is lossless AND actually used the codec") {
    assert(Sources.zstdRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq === direct())
    // tripwire: the data files must really be zstd pages, not a silently
    // ignored option falling back to snappy
    val dir = java.nio.file.Files.createTempDirectory("graft-zstd-probe")
    Tables.load(spark, TestSpark.sf0001, "documents").limit(5)
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(dir.toString)
    val parts = java.nio.file.Files.list(dir).filter(
      _.getFileName.toString.endsWith(".parquet"))
      .map[String](_.getFileName.toString)
      .toArray(new Array[String](_))
    assert(parts.nonEmpty && parts.forall(_.contains("zstd")),
      s"data files carry the zstd codec suffix: ${parts.mkString(",")}")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // ------------------------------------------------ graft-bands DSv2

  private def bandsFrame() =
    graft.operators.Dedup.bandsOf(graft.operators.Dedup.minhashSignatures(
      Tables.load(spark, TestSpark.sf0001, "documents")))

  test("graft-bands DSv2: full unfiltered read-back equals the band frame") {
    val out = TestSpark.tempDir("graft-dsv2-full").toString
    val bands = bandsFrame()
    bands.write.format("graft-bands").mode("overwrite").save(out)
    val back = spark.read.format("graft-bands").load(out)
    val key = (r: org.apache.spark.sql.Row) =>
      s"${r.getLong(0)}|${r.getInt(1)}|${r.getString(2)}"
    val wrote = bands.select(col("doc_id"), col("band").cast("int"), col("bkey"))
      .collect().map(key).sorted
    val read = back.select("doc_id", "band", "bkey").collect().map(key).sorted
    assert(read.length === wrote.length)
    assert(read === wrote)
  }

  test("graft-bands DSv2: band predicates prune files at planInputPartitions") {
    val out = TestSpark.tempDir("graft-dsv2-prune").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    val pruned = spark.read.format("graft-bands").load(out)
      .filter(col("band") === 3)
    val p = pruned.queryExecution.executedPlan.toString
    // the connector's scan description pins both the absorbed predicate
    // and the file-level pruning (8 bands -> only band 3's files planned)
    assert(p.contains("PushedBandFilters=[EqualTo(band,3)]"), p)
    assert(p.contains("bands=[3]"), p)
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(p)
    assert(m.isDefined, s"no files=kept/total in scan description: $p")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"no files pruned: ${m.get.matched}")
    // and the pruned read still returns exactly band 3's rows
    val expect = bandsFrame().filter(col("band") === 3).count()
    assert(pruned.count() === expect)
  }

  test("graft-bands DSv2: top-N on doc_id pushes down, prunes files via " +
    "range-clustered stats, and returns the exact head both directions") {
    val out = TestSpark.tempDir("graft-dsv2-topn").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    graft.sources.dsv2.BandStoreMaintenance.compact(spark, out,
      filesPerBand = 4)
    def read() = spark.read.format("graft-bands").load(out)
    val all = read().select("doc_id").collect().map(_.getLong(0)).sorted

    val q = read().orderBy("doc_id").limit(5).select("doc_id")
    val desc = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(desc.contains("PushedTopN=doc_id ASC,5"), desc)
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, desc)
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"top-N pruned no files: ${m.get.matched}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === all.take(5).toSeq)

    val qd = read().orderBy(col("doc_id").desc).limit(5).select("doc_id")
    val dd = qd.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(dd.contains("PushedTopN=doc_id DESC,5"), dd)
    assert(qd.collect().map(_.getLong(0)).sorted.toSeq
      === all.takeRight(5).toSeq)
  }

  test("graft-bands DSv2: bare LIMIT keeps a minimal file prefix; a " +
    "residual filter refuses limit and top-N pushdown at the builder") {
    val out = TestSpark.tempDir("graft-dsv2-limit").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    val q = spark.read.format("graft-bands").load(out).limit(7)
    val desc = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(desc.contains("PushedLimit=7"), desc)
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, desc)
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"limit pruned no files: ${m.get.matched}")
    // any 7 rows satisfy a bare LIMIT — but they must be REAL store rows
    val key = (r: org.apache.spark.sql.Row) =>
      s"${r.getLong(0)}|${r.getInt(1)}|${r.getString(2)}"
    val allRows = spark.read.format("graft-bands").load(out)
      .select("doc_id", "band", "bkey").collect().map(key).toSet
    val got = q.select("doc_id", "band", "bkey").collect().map(key)
    assert(got.length === 7)
    assert(got.forall(allRows.contains), "limit returned invented rows")

    // builder contract: a residual (bkey) predicate blocks both pushdowns
    // — a post-scan filter over a truncated scan could starve the limit
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val b = new graft.sources.dsv2.BandScanBuilder(
      out, spark.sessionState.newHadoopConf())
    b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("bkey", "x")))
    assert(!b.pushLimit(3), "limit accepted despite a residual filter")
    assert(!b.pushTopN(Array(Expressions.sort(
      Expressions.column("doc_id"), SortDirection.ASCENDING)), 3),
      "top-N accepted despite a residual filter")
    // and a band-only predicate (fully absorbed) admits them
    val b2 = new graft.sources.dsv2.BandScanBuilder(
      out, spark.sessionState.newHadoopConf())
    b2.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("band", 3)))
    assert(b2.pushLimit(3))
  }

  test("graft-bands DSv2: overwrite swaps the manifest atomically; the " +
    "prior generation stays time-travelable until vacuum reclaims it") {
    import graft.sources.dsv2.BandStoreMaintenance
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val out = TestSpark.tempDir("graft-dsv2-commit").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bkey", StringType)))
    def frame(rows: Seq[(Long, Int, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
        schema)
    frame(Seq((1L, 0, "aa"), (2L, 1, "bb"), (3L, 1, "bc")))
      .write.format("graft-bands").mode("overwrite").save(out)
    val gen1Files = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    // a torn writer file with no manifest row must be invisible to readers
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "b0-p9-t9-dead.gsb"),
      "99\tzz\n".getBytes("UTF-8"))
    assert(spark.read.format("graft-bands").load(out).count() === 3)
    // second generation replaces the first at the pointer...
    frame(Seq((7L, 2, "cc"))).write.format("graft-bands")
      .mode("overwrite").save(out)
    val back = spark.read.format("graft-bands").load(out).collect()
    assert(back.length === 1 && back(0).getLong(0) === 7L)
    // ...but does NOT delete its files: a reader that planned partitions
    // from the old manifest is still mid-scan of them, and versionAsOf=1
    // must keep serving the old generation byte-for-byte
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    assert(gen1Files.subsetOf(left),
      s"prior generation reaped at commit time: ${gen1Files.diff(left)}")
    val v1 = spark.read.format("graft-bands").option("versionAsOf", "1")
      .load(out).collect().map(_.getLong(0)).sorted
    assert(v1.toSeq === Seq(1L, 2L, 3L), "versionAsOf=1 lost generation 1")
    // the version shows up in the scan description (plan-pinned)
    val p = spark.read.format("graft-bands").option("versionAsOf", "1")
      .load(out).queryExecution.executedPlan.toString
    assert(p.contains("version=1"), p)
    // vacuum with retainLast=1 ends the time-travel window: generation-1
    // files AND the torn orphan go; version 1 then fails loudly
    val (droppedVersions, deletedFiles) = BandStoreMaintenance.vacuum(spark, out)
    assert(droppedVersions === 1 && deletedFiles >= gen1Files.size)
    val after = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    assert(gen1Files.intersect(after).isEmpty && !after.contains("b0-p9-t9-dead.gsb"),
      s"vacuum left unreachable files: $after")
    assert(spark.read.format("graft-bands").load(out).count() === 1)
    val err = intercept[Exception] {
      spark.read.format("graft-bands").option("versionAsOf", "1")
        .load(out).count()
    }
    val chain = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("no version 1"), chain)
  }

  test("graft-bands DSv2: band delete is metadata-only and versioned") {
    import graft.sources.dsv2.{BandStoreSource, BandStore}
    import org.apache.spark.sql.sources.{Filter, GreaterThan, In}
    val out = TestSpark.tempDir("graft-dsv2-delete").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    val filesBefore = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    val table = new BandStoreSource().getTable(BandStore.Schema,
      Array.empty, java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
    // only file-aligned band predicates are deletable without a rewrite
    assert(table.canDeleteWhere(Array[Filter](In("band", Array[Any](2, 5)))))
    assert(!table.canDeleteWhere(Array[Filter](GreaterThan("doc_id", 10L))))
    table.deleteWhere(Array[Filter](In("band", Array[Any](2, 5))))
    val bands = spark.read.format("graft-bands").load(out)
      .select("band").distinct().collect().map(_.getInt(0)).toSet
    assert(!bands.contains(2) && !bands.contains(5), bands.toString)
    // metadata-only: zero data files touched; the pre-delete version
    // still serves the deleted bands
    val filesAfter = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    assert(filesAfter === filesBefore, "band delete touched data files")
    val v1bands = spark.read.format("graft-bands").option("versionAsOf", "1")
      .load(out).select("band").distinct().collect().map(_.getInt(0)).toSet
    assert(v1bands.contains(2) && v1bands.contains(5), v1bands.toString)
  }

  test("graft-bands DSv2: manifest stats answer count/min/max with zero " +
    "data files read, and refuse when a row-level filter survives") {
    val out = TestSpark.tempDir("graft-dsv2-agg").toString
    val bands = bandsFrame()
    bands.write.format("graft-bands").mode("overwrite").save(out)
    val expect = bands.groupBy(col("band").cast("int").as("band"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("band").collect().map(_.toString).toSeq
    // deleting every data file proves the aggregate never opens one
    java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[java.nio.file.Path](p => p).toArray(new Array[java.nio.file.Path](_))
      .filter(_.getFileName.toString.endsWith(".gsb"))
      .foreach(java.nio.file.Files.delete(_))
    val agg = spark.read.format("graft-bands").load(out)
      .groupBy("band")
      .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("band")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("METADATA-ONLY"), plan)
    assert(agg.collect().map(_.toString).toSeq === expect)
    // ungrouped store-wide count: also metadata-only, also exact
    val total = spark.read.format("graft-bands").load(out).count()
    assert(total === bands.count())
    // a band filter composes: pruning is exact at file granularity
    val one = spark.read.format("graft-bands").load(out)
      .filter(col("band") === 3).count()
    assert(one === bands.filter(col("band") === 3).count())
    // a bkey filter is row-level: the aggregate must NOT be pushed (and
    // with the files deleted the scan must fail rather than fake a zero)
    val filtered = spark.read.format("graft-bands").load(out)
      .filter(col("bkey") > "8").groupBy("band").count()
    assert(!filtered.queryExecution.executedPlan.toString.contains("METADATA-ONLY"))
    intercept[Exception] { filtered.collect() }
  }

  test("graft-bands DSv2: doc_id predicates skip files via manifest " +
    "min/max when the layout clusters doc_id") {
    val out = TestSpark.tempDir("graft-dsv2-skip").toString
    val bands = bandsFrame()
    // range-cluster by doc_id before writing: each task covers a narrow
    // doc_id stripe, so its per-band files carry tight min/max — the
    // write-side layout choice that makes read-side skipping effective
    // (same discipline as sorting parquet by a filter column)
    bands.repartitionByRange(4, col("doc_id"))
      .write.format("graft-bands").mode("overwrite").save(out)
    val maxDoc = bands.agg(max("doc_id")).head().getLong(0)
    val pruned = spark.read.format("graft-bands").load(out)
      .filter(col("doc_id") > maxDoc - 2)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("DocSkipFilters=[GreaterThan(doc_id,"), p)
    val filesRe = """files=(\d+)/(\d+)""".r
    val m = filesRe.findFirstMatchIn(p).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"no files skipped by the doc_id range: ${m.matched}")
    // skipping is conservative: the surviving files still hold rows on
    // both sides of the bound and Spark re-filters them
    val expect = bands.filter(col("doc_id") > maxDoc - 2)
      .select(col("doc_id"), col("band").cast("int"), col("bkey"))
      .collect().map(_.toString).sorted
    assert(pruned.collect().map(_.toString).sorted === expect)
  }

  test("graft-bands DSv2: runtime band filters re-prune the planned files " +
    "(DPP contract), and a dimension join delivers them end-to-end") {
    import graft.sources.dsv2.{BandScan, BandStore, BandStoreSource}
    import org.apache.spark.sql.sources.{Filter, In}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val out = TestSpark.tempDir("graft-dsv2-runtime").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    // contract level: filter() after build() must shrink planInputPartitions
    val table = new BandStoreSource().getTable(BandStore.Schema,
      Array.empty, java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val before = scan.toBatch.planInputPartitions().length
    scan.asInstanceOf[BandScan].filter(Array[Filter](In("band", Array[Any](2))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before, s"runtime filter did not prune: $before -> $after")
    // end to end: joining a SELECTIVE band dimension must inject a
    // runtime group filter into the scan (file pruning with no user
    // band predicate)
    // NOT a local Seq: ConvertToLocalRelation would fold the selective
    // filter into the LocalRelation and DPP sees no filter to reuse
    val dim = spark.range(0, 8).select(col("id").cast("int").as("b"),
      (col("id") % 4).cast("int").as("grp"))
    // DPP's cost heuristic reads table stats the tiny test store can't
    // make attractive — the fallback ratio path exercises the same rule
    // the way a real dimension join at scale hits it
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val joined = spark.read.format("graft-bands").load(out)
        .join(dim.filter(col("grp") === 0), col("band") === col("b"))
      val n = joined.count()
      assert(n === bandsFrame().filter(col("band").isin(0, 4)).count())
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("RuntimeFilters: [dynamicpruning"),
        s"no runtime filter reached the band scan:\n$planStr")
    } finally spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
  }

  test("graft-bands DSv2: column pruning reaches the reader") {
    val out = TestSpark.tempDir("graft-dsv2-cols").toString
    bandsFrame().write.format("graft-bands").mode("overwrite").save(out)
    val only = spark.read.format("graft-bands").load(out).select("bkey")
    // V2 column pruning rewrites the scan's read schema — the plan's
    // BatchScan output must carry ONLY bkey
    val scan = only.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.isDefined, only.queryExecution.executedPlan.toString)
    assert(scan.get.scan.readSchema().fieldNames.toSeq === Seq("bkey"),
      scan.get.scan.readSchema().simpleString)
    assert(only.distinct().count() > 0)
  }

  test("graft-bands DSv2 streaming append equals the batch build") {
    // the stream-ingested store and the batch-built store must publish
    // identical probed-band summaries (this is also what the shared
    // src_dsv2 / src_dsv2_stream oracle asserts against DuckDB)
    val batch = Sources.dsv2RoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    val streamed = Sources.dsv2StreamRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
  }

  test("graft-bands streaming commit is epoch-idempotent (replay discards " +
    "the duplicate attempt)") {
    import graft.sources.dsv2._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val out = TestSpark.tempDir("graft-dsv2-epoch").toString
    val conf = spark.sessionState.newHadoopConf()
    val sw = new BandWriteBuilder(out, graft.sources.dsv2.BandStore.Schema, conf)
      .build().toStreaming
    val fac = sw.createStreamingWriterFactory(null)
    def writeEpoch(epoch: Long, docId: Long): Array[
        org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val w = fac.createWriter(0, 0L, epoch)
      w.write(new GenericInternalRow(
        Array[Any](docId, 4, UTF8String.fromString("k" + docId))))
      Array(w.commit())
    }
    sw.commit(11L, writeEpoch(11L, 1L))
    assert(spark.read.format("graft-bands").load(out).count() === 1)
    // Structured Streaming replays an epoch whose commit outcome was
    // unknown: same epoch id, fresh task attempt, fresh files
    sw.commit(11L, writeEpoch(11L, 1L))
    assert(spark.read.format("graft-bands").load(out).count() === 1,
      "replayed epoch must not double-commit")
    // the duplicate attempt's orphan files are deleted, not just hidden
    val gsb = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb"))
    assert(gsb.length === 1, s"orphan files not reaped: ${gsb.mkString(",")}")
    // a NEW epoch appends normally
    sw.commit(12L, writeEpoch(12L, 2L))
    assert(spark.read.format("graft-bands").load(out).count() === 2)
    // batch APPEND preserves the epoch ledger: replaying epoch 12 after a
    // batch append must still deduplicate
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9L, 0, "zz")), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bkey",
          org.apache.spark.sql.types.StringType))))
    extra.write.format("graft-bands").mode("append").save(out)
    sw.commit(12L, writeEpoch(12L, 2L))
    assert(spark.read.format("graft-bands").load(out).count() === 3,
      "epoch ledger lost across a batch append")
  }

  test("graft-bands DSv2 streaming SOURCE: manifest versions are offsets, " +
    "appends arrive as incremental micro-batches, rewrites refuse loudly") {
    import graft.sources.dsv2.{BandMicroBatchStream, BandPruning, BandStore, BandStoreMaintenance, BandVersionOffset}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val out = TestSpark.tempDir("graft-dsv2-src").toString
    val ckpt = TestSpark.tempDir("graft-dsv2-src-ckpt").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bkey", StringType)))
    def frame(rows: Seq[(Long, Int, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1),
        schema)
    frame(Seq((1L, 0, "aa"), (2L, 1, "bb"))).write
      .format("graft-bands").mode("overwrite").save(out)   // version 1
    frame(Seq((3L, 2, "cc"))).write
      .format("graft-bands").mode("append").save(out)      // version 2
    val q = spark.readStream.format("graft-bands").load(out)
      .writeStream.format("memory").queryName("bandsrc")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("bandsrc").count() === 3,
        "history (versions 1-2) must arrive in the first window")
      // a live append becomes the next incremental micro-batch
      frame(Seq((4L, 3, "dd"))).write
        .format("graft-bands").mode("append").save(out)    // version 3
      q.processAllAvailable()
      assert(spark.table("bandsrc").orderBy("doc_id").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
    // contract level: the (1, 2] window plans ONLY version 2's new files
    val conf = spark.sessionState.newHadoopConf()
    val ms = new BandMicroBatchStream(out, conf, BandPruning.All,
      BandStore.Schema)
    assert(ms.planInputPartitions(
      BandVersionOffset(0L), BandVersionOffset(1L)).length === 2,
      "version 1 wrote one file per band (bands 0 and 1)")
    assert(ms.planInputPartitions(
      BandVersionOffset(1L), BandVersionOffset(2L)).length === 1)
    assert(ms.planInputPartitions(
      BandVersionOffset(3L), BandVersionOffset(3L)).isEmpty)
    // a rewriting commit (compaction) inside the window must refuse: a
    // name-level delta would re-read every row as "new"
    BandStoreMaintenance.compact(spark, out)
    val err = intercept[IllegalArgumentException] {
      ms.planInputPartitions(BandVersionOffset(3L), BandVersionOffset(4L))
    }
    assert(err.getMessage.contains("rewriting commit"), err.getMessage)
  }

  test("graft-bands: key-grouped scan — per-band aggs of two stores join " +
    "with zero hash exchanges, values unchanged") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dirA = TestSpark.tempDir("graft-spj-a").toString
    val dirB = TestSpark.tempDir("graft-spj-b").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bkey", StringType)))
    def frame(n: Int, off: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).flatMap(i =>
        (0 until 4).map(b => Row(off + i, b, s"k${(i + b) % 5}"))), 2), schema)
    frame(20, 0L).write.format("graft-bands").mode("overwrite").save(dirA)
    frame(15, 100L).write.format("graft-bands").mode("overwrite").save(dirB)
    def joined() = {
      def per(d: String, s: String) = spark.read.format("graft-bands").load(d)
        .groupBy("band").agg(count(lit(1)).as(s"n_$s"),
          countDistinct(col("bkey")).as(s"k_$s"))
      per(dirA, "a").join(per(dirB, "b"), "band").orderBy("band")
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    val on = joined()
    val onRows = on.collect().map(_.toString).toSeq
    assert(onRows.size === 4)
    val p = on.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // both aggregations AND the store-vs-store join run on the storage
    // partitioning — the only movement is the presentation range sort
    assert(!p.contains("Exchange hashpartitioning"), p)
    // sanity that the elision is real: the same query with the v2
    // bucketing conf off shuffles, and returns the identical rows
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val off = joined()
      val offRows = off.collect().map(_.toString).toSeq
      val offPlan = off.queryExecution.executedPlan.toString
      assert(offPlan.contains("Exchange hashpartitioning"), offPlan)
      assert(offRows === onRows)
    } finally
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  test("graft-bands change feed: appends insert, deletes delete, " +
    "compaction cancels, and the window refuses vacuumed versions") {
    import graft.sources.dsv2.{BandStore, BandStoreMaintenance}
    val out = TestSpark.tempDir("graft-dsv2-cdf").toString
    val bands = bandsFrame().localCheckpoint(true)
    val half = bands.filter(col("doc_id") % 2 === 0)
    half.write.format("graft-bands").mode("overwrite").save(out) // v1
    bands.filter(col("doc_id") % 2 =!= 0)
      .write.format("graft-bands").mode("append").save(out) // v2
    BandStoreMaintenance.compact(spark, out) // v3, layout-only
    // v2 window: the appended rows, as inserts, nothing else
    val d12 = BandStoreMaintenance.changes(spark, out, 1L, 2L)
    assert(d12.filter(col("_change_type") =!= "insert").count() === 0)
    assert(d12.count() === bands.filter(col("doc_id") % 2 =!= 0).count())
    // a layout-only commit cancels to zero change rows
    assert(BandStoreMaintenance.changes(spark, out, 2L, 3L).count() === 0)
    // ... and crossing it changes nothing about the v1→v2 delta
    val d13 = BandStoreMaintenance.changes(spark, out, 1L, 3L)
      .select("doc_id", "band", "bkey", "_change_type")
    assert(d13.exceptAll(d12.select("doc_id", "band", "bkey",
      "_change_type")).count() === 0)
    // a metadata-only band delete surfaces as row-level deletes with the
    // pre-image content
    val table = new graft.sources.dsv2.BandStoreSource()
      .getTable(BandStore.Schema, Array.empty, java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("band", 3))) // v4
    val d34 = BandStoreMaintenance.changes(spark, out, 3L, 4L)
    assert(d34.filter(col("_change_type") =!= "delete").count() === 0)
    assert(d34.count() === bands.filter(col("band") === 3).count())
    // a vacuumed start version refuses loudly instead of guessing
    BandStoreMaintenance.vacuum(spark, out, retainLast = 1)
    val e = intercept[IllegalArgumentException] {
      BandStoreMaintenance.changes(spark, out, 1L, 4L).count()
    }
    assert(e.getMessage.contains("version"), e.getMessage)
  }

  test("graft-bands: a torn publish (version file written, pointer swap " +
    "never happened) is invisible and later commits number past it") {
    import graft.sources.dsv2.BandStore
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val out = TestSpark.tempDir("graft-dsv2-torn").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bkey", StringType)))
    def frame(rows: Seq[(Long, Int, String)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1),
        schema)
    frame(Seq((1L, 0, "aa"))).write
      .format("graft-bands").mode("overwrite").save(out)   // version 1
    // simulate a publish that died between the version write and the
    // pointer swap: a stray higher version file, pointer still at v1
    val v1 = java.nio.file.Paths.get(out, "_manifest.v1")
    java.nio.file.Files.copy(v1, java.nio.file.Paths.get(out, "_manifest.v7"))
    // current readers are unaffected (they follow the pointer)...
    assert(spark.read.format("graft-bands").load(out).count() === 1)
    // ...and the next commit numbers PAST the orphan instead of
    // colliding with it, then serves both generations correctly
    frame(Seq((2L, 1, "bb"))).write
      .format("graft-bands").mode("append").save(out)      // version 8
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(out)
    assert(BandStore.listVersions(root, conf) === Seq(1L, 7L, 8L))
    assert(spark.read.format("graft-bands").load(out).count() === 2)
    assert(spark.read.format("graft-bands").option("versionAsOf", "8")
      .load(out).count() === 2)
  }

  test("graft-bands manifest round-trips arbitrary entries and epoch " +
    "ledgers exactly") {
    import graft.sources.dsv2.BandStore
    val out = TestSpark.tempDir("graft-dsv2-manifest").toString
    val root = new org.apache.hadoop.fs.Path(out)
    val conf = spark.sessionState.newHadoopConf()
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val entries = Seq.fill(rnd.nextInt(40)) {
        BandStore.ManifestEntry(
          s"b${rnd.nextInt(8)}-t${rnd.nextInt(100)}-${java.util.UUID.randomUUID()}.gsb",
          rnd.nextInt(8), math.abs(rnd.nextLong()) max 1L,
          rnd.nextInt(100000).toLong,
          rnd.nextLong(), rnd.nextLong())
      }
      val epochs = Seq.fill(rnd.nextInt(6))(rnd.nextLong()).toSet
      val v = BandStore.writeManifest(root, conf, entries, epochs)
      assert(v === trial.toLong, "versions must be dense and monotonic")
      val (back, epochsBack) = BandStore.readManifestFull(root, conf)
      assert(back === entries, s"trial $trial: entries changed")
      assert(epochsBack === epochs, s"trial $trial: ledger changed")
      // the immutable history entry says the same thing
      assert(BandStore.readManifestFull(root, conf, Some(v))._1 === entries)
    }
  }

  test("graft-bands compaction merges per-band files, preserves content " +
    "and the epoch ledger; vacuum reaps the old generation") {
    import graft.sources.dsv2.{BandStore, BandStoreMaintenance}
    val out = TestSpark.tempDir("graft-dsv2-compact").toString
    val bands = bandsFrame()
    // three append generations (multi-partition writes) = many small files
    bands.write.format("graft-bands").mode("overwrite").save(out)
    bands.filter(col("doc_id") % 2 === 0).select(col("doc_id") + 100000,
        col("band"), col("bkey"))
      .toDF("doc_id", "band", "bkey")
      .write.format("graft-bands").mode("append").save(out)
    bands.filter(col("doc_id") % 2 === 1).select(col("doc_id") + 200000,
        col("band"), col("bkey"))
      .toDF("doc_id", "band", "bkey")
      .write.format("graft-bands").mode("append").save(out)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(out)
    // plant an epoch marker to prove the ledger survives the swap
    val (pre, _) = BandStore.readManifestFull(root, conf)
    BandStore.writeManifest(root, conf, pre, Set(41L))
    val before = spark.read.format("graft-bands").load(out)
      .collect().map(_.toString).sorted
    val (nBefore, nAfter) = BandStoreMaintenance.compact(spark, out)
    assert(nAfter < nBefore, s"no compaction: $nBefore -> $nAfter")
    val after = spark.read.format("graft-bands").load(out)
      .collect().map(_.toString).sorted
    assert(after === before, "compaction changed the store's content")
    val (entries, epochs) = BandStore.readManifestFull(root, conf)
    assert(entries.size === nAfter)
    assert(epochs === Set(41L), "epoch ledger lost in compaction swap")
    // the swap itself deletes nothing (racing readers + time travel);
    // vacuum then reaps: only manifest-listed files remain on disk
    BandStoreMaintenance.vacuum(spark, out)
    val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .map[String](_.getFileName.toString).toArray(new Array[String](_))
      .filter(_.endsWith(".gsb")).toSet
    assert(onDisk === entries.map(_.name).toSet,
      s"orphans or missing files after compact+vacuum: $onDisk vs manifest")
  }

  test("graft-bands compaction with files_per_band range-clusters doc_id: " +
    "disjoint per-band file ranges make point predicates open ~one file") {
    import graft.sources.dsv2.{BandStore, BandStoreMaintenance}
    val out = TestSpark.tempDir("graft-dsv2-cluster").toString
    import spark.implicits._
    // two interleaved appends: every file's doc range spans the whole
    // keyspace, so pre-compaction skip stats prune nothing
    val rows = (0L until 400L).flatMap(d => (0 until 4).map(b =>
      (d, b, s"k$d-$b")))
    rows.filter(_._1 % 2 == 0).toDF("doc_id", "band", "bkey").coalesce(2)
      .write.format("graft-bands").mode("overwrite").save(out)
    rows.filter(_._1 % 2 == 1).toDF("doc_id", "band", "bkey").coalesce(2)
      .write.format("graft-bands").mode("append").save(out)
    val before = spark.read.format("graft-bands").load(out)
      .collect().map(_.toString).sorted
    val (_, nAfter) = BandStoreMaintenance.compact(spark, out,
      filesPerBand = 4)
    val after = spark.read.format("graft-bands").load(out)
      .collect().map(_.toString).sorted
    assert(after === before, "clustering compaction changed content")
    val conf = spark.sessionState.newHadoopConf()
    val (entries, _) = BandStore.readManifestFull(
      new org.apache.hadoop.fs.Path(out), conf)
    assert(entries.size === nAfter)
    for ((band, files) <- entries.groupBy(_.band)) {
      assert(files.size >= 2, s"band $band not split: ${files.size} file")
      val ranges = files.map(e => (e.minDoc, e.maxDoc)).sorted
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2, s"band $band ranges overlap: $ranges")
        case _ =>
      }
    }
    // a doc_id point predicate now admits exactly one file per admitted
    // band (disjoint ranges), visible in the scan's files=kept/total
    val df = spark.read.format("graft-bands").load(out)
      .filter(col("band") === 2 && col("doc_id") === 137L)
    val scanDesc = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scanDesc)
    assert(m.isDefined, s"no files=k/t in scan: $scanDesc")
    assert(m.get.group(1).toInt === 1,
      s"point predicate opened ${m.get.group(1)} files (want 1)")
    assert(df.count() === 1)
  }

  test("graft-bands pruning: batch, micro-batch and rewrite scans admit " +
    "the same files, never drop a matching row, and the metadata count " +
    "equals the admitted rows") {
    import graft.sources.dsv2._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.connector.expressions.Expression
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar}
    import org.apache.spark.sql.connector.read.InputPartition
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    import org.apache.spark.sql.sources._
    import spark.implicits._
    val out = TestSpark.tempDir("graft-dsv2-prune-agree").toString
    (0L until 300L).flatMap(d => (0 until 4).map(b => (d, b, s"k$d-$b")))
      .toDF("doc_id", "band", "bkey").coalesce(2)
      .write.format("graft-bands").mode("overwrite").save(out)
    BandStoreMaintenance.compact(spark, out, filesPerBand = 3)
    val conf = spark.sessionState.newHadoopConf()
    val entries = BandStore.readManifestFull(new Path(out), conf)._1
    // (file, band, doc_id) of every stored row, read off the files
    val rows = entries.flatMap { e =>
      scala.io.Source.fromFile(s"$out/${e.name}").getLines()
        .map(l => (e.name, e.band, l.takeWhile(_ != '\t').toLong)).toList
    }
    assert(rows.size === 1200)

    def holds(f: Filter, band: Int, doc: Long): Boolean = f match {
      case EqualTo("band", v) => v == band
      case In("band", vs) => vs.contains(band)
      case EqualTo("doc_id", v: Long) => doc == v
      case GreaterThan("doc_id", v: Long) => doc > v
      case GreaterThanOrEqual("doc_id", v: Long) => doc >= v
      case LessThan("doc_id", v: Long) => doc < v
      case LessThanOrEqual("doc_id", v: Long) => doc <= v
      case other => fail(s"no row semantics for $other")
    }
    def names(parts: Array[InputPartition]): Set[String] =
      parts.map(p => new Path(p.asInstanceOf[BandFilePartition].file).getName).toSet
    val ckpt = TestSpark.tempDir("graft-dsv2-prune-agree-ckpt").toString
    def admitted(filters: Array[Filter]): Set[String] = {
      val b = new BandScanBuilder(out, conf)
      b.pushFilters(filters)
      val scan = b.build()
      val batch = names(scan.toBatch.planInputPartitions())
      val ms = scan.toMicroBatchStream(ckpt)
      val stream = names(
        ms.planInputPartitions(BandVersionOffset(0L), ms.latestOffset()))
      val rb = new BandRewriteScanBuilder(out, conf,
        new BandRowLevelOperation(out, Command.DELETE, conf))
      rb.pushFilters(filters)
      val rewrite = names(rb.build().toBatch.planInputPartitions())
      val shown = filters.mkString(" AND ")
      assert(stream === batch, s"micro-batch stream disagrees on $shown")
      assert(rewrite === batch, s"rewrite scan disagrees on $shown")
      batch
    }

    val bandSets: Seq[Array[Filter]] =
      (0 until 4).map(b => Array[Filter](EqualTo("band", b))) ++
        Seq(Seq(1), Seq(0, 2), Seq(1, 2, 3), Seq(0, 1, 2, 3), Seq(5))
          .map(bs => Array[Filter](In("band", bs.toArray[Any])))
    // each file's doc_id edges and one past them on either side
    val edges = entries.flatMap(e => Seq(e.minDoc, e.maxDoc).flatMap(v =>
      Seq(v - 1, v, v + 1))).distinct.sorted
    val docFilters: Seq[Filter] = edges.flatMap(v => Seq(EqualTo("doc_id", v),
      GreaterThan("doc_id", v), GreaterThanOrEqual("doc_id", v),
      LessThan("doc_id", v), LessThanOrEqual("doc_id", v)))
    val rnd = new scala.util.Random(42)
    val combos: Seq[Array[Filter]] = bandSets ++ docFilters.map(Array(_)) ++
      Seq.fill(80)(bandSets(rnd.nextInt(bandSets.size)) :+
        docFilters(rnd.nextInt(docFilters.size))) ++
      Seq.fill(40)(Array(docFilters(rnd.nextInt(docFilters.size)),
        docFilters(rnd.nextInt(docFilters.size))))
    var pruned = 0
    for (filters <- combos) {
      val kept = admitted(filters)
      if (kept.size < entries.size) pruned += 1
      // (a) no false drop
      val lost = rows.filter { case (f, band, doc) =>
        filters.forall(holds(_, band, doc)) && !kept(f)
      }
      assert(lost.isEmpty,
        s"${filters.mkString(" AND ")} dropped matching rows: ${lost.take(3)}")
    }
    assert(pruned > combos.size / 2, s"only $pruned of ${combos.size} pruned")
    // range-clustered files are disjoint within a band: a point predicate
    // on one file's edge admits that file alone
    for (e <- entries; v <- Seq(e.minDoc, e.maxDoc))
      assert(admitted(Array(EqualTo("band", e.band), EqualTo("doc_id", v)))
        === Set(e.name))

    // (c) band filters alone: the metadata-only count(*) is the row count
    // of the admitted files, which band filters admit exactly
    for (filters <- bandSets) {
      val b = new BandScanBuilder(out, conf)
      b.pushFilters(filters)
      assert(b.pushAggregation(new Aggregation(
        Array[AggregateFunc](new CountStar()), Array.empty[Expression])))
      val count = b.build().toBatch.planInputPartitions().head
        .asInstanceOf[BandAggPartition].rows.head.getLong(0)
      val kept = admitted(filters)
      assert(count === rows.count(r => kept(r._1)))
      assert(count === rows.count { case (_, band, doc) =>
        filters.forall(holds(_, band, doc)) })
    }
  }

  test("graft-bands catalog: CREATE / INSERT / SELECT / VERSION AS OF / " +
    "DELETE / _file metadata / CALL compact+vacuum / DROP, all in SQL") {
    val wh = TestSpark.tempDir("graft-bands-wh").toString
    spark.conf.set("spark.sql.catalog.graft_bands",
      classOf[graft.sources.dsv2.BandCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bands.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graft_bands.t (doc_id BIGINT NOT NULL, " +
        "band INT NOT NULL, bkey STRING NOT NULL)")
      bandsFrame().createOrReplaceTempView("catalog_bands_src")
      // generation 1: the even docs; generation 2 appends the odds
      spark.sql("INSERT INTO graft_bands.t SELECT doc_id, " +
        "CAST(band AS INT), bkey FROM catalog_bands_src WHERE doc_id % 2 = 0")
      val n1 = spark.sql("SELECT count(*) FROM graft_bands.t").head().getLong(0)
      spark.sql("INSERT INTO graft_bands.t SELECT doc_id, " +
        "CAST(band AS INT), bkey FROM catalog_bands_src WHERE doc_id % 2 = 1")
      val nAll = spark.sql("SELECT count(*) FROM graft_bands.t").head().getLong(0)
      assert(nAll === bandsFrame().count())
      assert(n1 < nAll && n1 > 0)
      // SQL time travel: CREATE published v1 (empty), first INSERT is v2
      assert(spark.sql("SELECT count(*) FROM graft_bands.t VERSION AS OF 1")
        .head().getLong(0) === 0L)
      assert(spark.sql("SELECT count(*) FROM graft_bands.t VERSION AS OF 2")
        .head().getLong(0) === n1)
      // SQL DELETE routes to the metadata-only manifest rewrite
      spark.sql("DELETE FROM graft_bands.t WHERE band = 3")
      assert(spark.sql(
        "SELECT count(*) FROM graft_bands.t WHERE band = 3")
        .head().getLong(0) === 0L)
      assert(spark.sql("SELECT count(*) FROM graft_bands.t").head().getLong(0)
        < nAll)
      // `_file` metadata column: provenance from partition metadata —
      // every row maps to a manifest-listed file, at zero read cost
      val byFile = spark.sql(
        "SELECT _file, count(*) AS n FROM graft_bands.t GROUP BY _file")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(byFile.nonEmpty && byFile.keys.forall(_.endsWith(".gsb")))
      assert(byFile.values.sum === spark.sql(
        "SELECT count(*) FROM graft_bands.t").head().getLong(0))
      // stored procedures: compact then vacuum via plain SQL CALL, each
      // returning its counters
      val comp = spark.sql("CALL graft_bands.system.compact('t')").head()
      assert(comp.getInt(1) <= comp.getInt(0),
        s"compact grew the store: $comp")
      // the clustering variant rides the same procedure's optional param
      val comp2 = spark.sql(
        "CALL graft_bands.system.compact('t', files_per_band => 2)").head()
      assert(comp2.getInt(1) >= comp.getInt(1),
        s"range-clustered recompaction lost files: $comp -> $comp2")
      val vac = spark.sql("CALL graft_bands.system.vacuum('t', 1)").head()
      assert(vac.getInt(0) > 0, s"no manifest versions dropped: $vac")
      // the compacted+vacuumed table still serves the same rows
      assert(spark.sql("SELECT count(*) FROM graft_bands.t").head().getLong(0)
        === byFile.values.sum)
      // table listing sees it; DROP removes it
      assert(spark.sql("SHOW TABLES IN graft_bands").collect()
        .map(_.getString(1)).contains("t"))
      spark.sql("DROP TABLE graft_bands.t")
      val gone = intercept[Exception] {
        spark.sql("SELECT count(*) FROM graft_bands.t").collect()
      }
      assert(gone.getMessage.toLowerCase.contains("table"), gone.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_bands.warehouse")
      spark.conf.unset("spark.sql.catalog.graft_bands")
    }
  }

  test("graft-bands catalog: SQL-callable hash functions match the " +
    "engine's Catalyst expressions bit for bit") {
    import graft.functions.hashes
    spark.conf.set("spark.sql.catalog.graft_bands",
      classOf[graft.sources.dsv2.BandCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bands.warehouse",
      TestSpark.tempDir("graft-bands-fnwh").toString)
    try {
      val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      docs.createOrReplaceTempView("fn_docs")
      val viaSql = spark.sql(
        """SELECT doc_id, graft_bands.system.fnv1a64(text) AS h64,
          |  graft_bands.system.ihash(text) AS ih,
          |  graft_bands.system.poly31(text) AS p
          |FROM fn_docs ORDER BY doc_id""".stripMargin)
        .collect().map(_.toString)
      val viaExpr = docs.select(col("doc_id"),
          hashes.fnv1a64(col("text")).as("h64"),
          hashes.fnv1aIHash(col("text")).cast("long").as("ih"),
          hashes.poly31Hash(col("text")).as("p"))
        .orderBy("doc_id").collect().map(_.toString)
      assert(viaSql.length === viaExpr.length && viaSql.nonEmpty)
      assert(viaSql.toSeq === viaExpr.toSeq)
      // listed for discovery
      assert(spark.sql("SHOW FUNCTIONS IN graft_bands.system").collect()
        .map(_.getString(0)).count(_.endsWith("poly31")) === 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_bands.warehouse")
      spark.conf.unset("spark.sql.catalog.graft_bands")
    }
  }

  // ------------------------------------------------ embedded JDBC (Derby)

  test("JDBC (embedded Derby) round-trip is lossless under the " +
    "adversarial decoration") {
    assert(Sources.jdbcRoundTrip(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq === direct())
  }

  test("JDBC read pushes predicates to the database and stripes by doc_id") {
    val url = s"jdbc:derby:memory:graftpush;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables.load(spark, TestSpark.sf0001, "documents")
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").jdbc(url, "docs_push", props)
    val back = spark.read
      .option("partitionColumn", "doc_id").option("numPartitions", "4")
      .option("lowerBound", "0").option("upperBound", "1000")
      .jdbc(url, "docs_push", props)
      .filter(col("n_chars") > 100)
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("n_chars"),
      s"filter not pushed to JDBC source:\n$p")
    assert(back.rdd.getNumPartitions === 4,
      "stride predicates did not partition the JDBC read")
  }

}
