package graft

import graft.streaming.EventStream
import graft.queries.Relational
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming/batch parity: the streaming operators must agree with their
  * batch twins when the finite events table is replayed as a stream.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sf0001

  test("streaming windowed counts == batch q17_time_window") {
    val stream = EventStream.readEvents(spark, dir)
    val streamed = EventStream.drain(
      EventStream.windowedCounts(stream), OutputMode.Complete)
      .select("bucket", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Relational.defs("q17_time_window")(spark, dir)
      .select("bucket", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("multi-slice source: one slice per micro-batch, bounded-late rows still counted") {
    // the late-data fuzz contract (tools/fuzz_seams.py writes events as a
    // DIRECTORY of slice files): EventStream stages one slice per
    // micro-batch in name order, so a later batch can carry events OLDER
    // than an earlier batch's max — genuine out-of-order arrival. Rows
    // displaced within the 10-minute watermark bound must still be
    // aggregated (no engine is allowed to drop them), and the final
    // Complete-mode result must equal the batch aggregation of the union.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-late-slices")
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-03-01 $s:00")
    def writeSlice(name: String,
                   rows: Seq[(Long, java.sql.Timestamp, Long, String,
                              Double, String)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("slice")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = tmp.resolve("events.parquet").resolve(name)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(part.toPath, dst)
    }
    val s0 = Seq(
      (1L, ts("10:05"), 1L, "click", 1.0, "{}"),
      (2L, ts("10:40"), 2L, "view", 2.0, "{}"),
      (3L, ts("11:00"), 1L, "click", 3.0, "{}")) // slice max 11:00
    val s1 = Seq(
      (4L, ts("10:56"), 2L, "view", 4.0, "{}"), // LATE: 4 min < watermark
      (5L, ts("11:30"), 1L, "click", 5.0, "{}")) // slice max 11:30
    val s2 = Seq(
      (6L, ts("11:28"), 2L, "view", 6.0, "{}"), // LATE again
      (7L, ts("12:05"), 1L, "click", 7.0, "{}"))
    writeSlice("slice-000.parquet", s0)
    writeSlice("slice-001.parquet", s1)
    writeSlice("slice-002.parquet", s2)

    val q = EventStream.windowedCounts(EventStream.readEvents(spark, tmp.toString))
      .writeStream.outputMode("complete").format("memory")
      .queryName("late_slices").start()
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(dataBatches >= 3,
      s"expected one micro-batch per slice, saw $dataBatches with data")

    val got = try spark.table("late_slices")
      .select("bucket", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    finally spark.catalog.dropTempView("late_slices")
    val want = Set(
      ("2024-03-01 10:00:00", "click", 1L),
      ("2024-03-01 10:00:00", "view", 2L), // includes the late event 4
      ("2024-03-01 11:00:00", "click", 2L),
      ("2024-03-01 11:00:00", "view", 1L), // includes the late event 6
      ("2024-03-01 12:00:00", "click", 1L))
    assert(got === want)
  }

  test("streaming dup-rate monitor == the batch estimator's sample panel") {
    // st_dup_rate folds per-content-hash counts over the sample bucket
    // in-stream; its finalize must publish exactly the batch panel's
    // sample columns (same bucket predicate, same integer division)
    val streamed = SparkEntry.queries("st_dup_rate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    val batch = graft.operators.Dedup.dupRateEstimate(
      graft.tables.Tables.load(spark, dir, "documents"))
      .select("sample_n", "sample_distinct", "est_bp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    assert(streamed === batch)
    assert(streamed.head._1 > 0, "sample bucket must be non-empty at sf0.001")
  }

  test("dup-rate monitor keeps 1/16-sample state, measured via stateOperators") {
    // the "deployable monitor" claim is a STATE bound: the fold keys on
    // md5(text) over the content-keyed sample bucket only, so state rows
    // == distinct sampled texts (the batch panel's sample_distinct), a
    // 1/16-of-corpus figure — not one row per document. Read the actual
    // state-store row count off the finished query's progress instead of
    // trusting the plan shape.
    val q =
      try EventStream.runDrained(spark) {
        EventStream.dupRateMonitorAgg(spark, dir).writeStream
          .outputMode(OutputMode.Complete)
          .format("memory").queryName("dup_rate_state_probe").start()
      } finally spark.catalog.dropTempView("dup_rate_state_probe")
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    val panel = graft.operators.Dedup.dupRateEstimate(
      graft.tables.Tables.load(spark, dir, "documents"))
      .select("sample_n", "sample_distinct").head()
    val (sampleN, sampleDistinct) = (panel.getLong(0), panel.getLong(1))
    assert(stateRows === sampleDistinct,
      s"monitor state rows ($stateRows) != batch sample_distinct ($sampleDistinct)")
    // and the sample really is a fraction of the corpus, so the bound means
    // something: state stays strictly below the unsampled key cardinality
    val nDocs = graft.tables.Tables.load(spark, dir, "documents").count()
    assert(sampleN < nDocs,
      s"sample bucket ($sampleN) should be a strict subset of $nDocs docs")
    assert(stateRows <= sampleN)
  }

  test("streaming dropDuplicates == batch DISTINCT on the key projection") {
    val streamed = EventStream.drain(
      EventStream.readEvents(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      OutputMode.Append)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = EventStream.readEvents(spark, dir).sparkSession
      .read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(streamed.toSet === batch.toSet)
    assert(streamed.length === streamed.toSet.size, "no duplicate emissions")
  }

  /** Temp view names of session `s` (memory sinks register as these). */
  private def tempViews(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("twins leave no sink view and no active query behind; reruns agree") {
    // a fresh session: temp views and the query manager are per session,
    // so sinks left by other suites' twin runs cannot mask a leak here
    val s = spark.newSession()
    val views0 = tempViews(s)
    val active0 = s.streams.active.map(_.id).toSet
    // st_chi2 drains twice; st_markov self-joins an aggregate of its sink
    val names = Seq("st_time_window", "st_chi2", "st_markov")
    def run(): Map[String, Seq[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(s, dir).collect().map(_.toString).toSeq.sorted
    }.toMap
    val first = run()
    assert(tempViews(s) === views0, "a sink stayed registered as a temp view")
    assert(s.streams.active.map(_.id).toSet === active0,
      "a drained query is still active")
    names.foreach(n => assert(first(n).nonEmpty, s"$n collected no rows"))
    assert(run() === first)
    assert(tempViews(s) === views0)
  }

  test("drain: the frame still collects after its sink's name is gone") {
    val s = spark.newSession()
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      // QueryStartedEvent reaches session listeners synchronously on start
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.name)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val views0 = tempViews(s)
    s.streams.addListener(listener)
    val drained =
      try EventStream.drain(
        EventStream.lwwState(EventStream.readEventRecords(s, dir)).toDF(),
        OutputMode.Update)
      finally s.streams.removeListener(listener)
    assert(started.size === 1)
    val sink = started.peek()
    assert(tempViews(s) === views0)
    assert(!s.catalog.tableExists(sink) && !spark.catalog.tableExists(sink))
    intercept[org.apache.spark.sql.AnalysisException](s.table(sink))
    assert(s.streams.active.isEmpty)
    val users = drained.select("user_id").distinct().count()
    assert(users > 0)
    assert(users === graft.tables.Tables.events(s, dir)
      .select("user_id").distinct().count())
  }

  test("drain: the frame self-joins an aggregate of itself, no checkpoint") {
    // the finalizer shape of st_markov and st_bitmap: the drained rows are
    // read twice in one plan, which a frame over the memory sink's own
    // plan cannot do (its attributes cannot be re-instanced for the join)
    def fold(events: org.apache.spark.sql.DataFrame) = events
      .groupBy(col("event_type"), pmod(col("user_id"), lit(3L)).as("k"))
      .agg(count(lit(1)).as("n"))
    def withShare(counts: org.apache.spark.sql.DataFrame) = counts
      .join(counts.groupBy("event_type").agg(sum(col("n")).as("row_n")),
        "event_type")
      .select("event_type", "k", "n", "row_n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val drained = EventStream.drain(
      fold(EventStream.readEvents(spark, dir)), OutputMode.Complete)
    val streamed = withShare(drained)
    assert(streamed.nonEmpty)
    assert(streamed === withShare(fold(graft.tables.Tables.events(spark, dir))))
  }

  test("watermark drops late data and finalizes windows exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val counts = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("k"))
      .count()
      .select(date_format(col("w.start"), "HH:mm").as("start"), col("k"), col("count"))
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      // b1: on-time data up to 11:30 -> watermark becomes 11:20 afterwards
      input.addData((ts("10:05"), "a"), (ts("10:20"), "a"), (ts("11:30"), "a"))
      q.processAllAvailable()
      // b2: watermark 11:20 closes [10:00,11:00) with exactly the 2 on-time rows
      input.addData((ts("12:30"), "a"))
      q.processAllAvailable()
      // b3: 10:30 arrives BEHIND the watermark -> must be dropped, not
      // re-open the already-finalized 10:00 window; 13:30 closes [11:00,12:00)
      input.addData((ts("10:30"), "a"), (ts("13:30"), "a"))
      q.processAllAvailable()
      val out = spark.table("late_test").collect()
        .map(r => (r.getString(0), r.getLong(2))).toList
      assert(out.count(_._1 == "10:00") === 1, s"window finalized once: $out")
      assert(out.find(_._1 == "10:00").get._2 === 2L,
        s"late 10:30 row must not count: $out")
      assert(out.find(_._1 == "11:00").get._2 === 1L, out.toString)
    } finally {
      q.stop()
      spark.catalog.dropTempView("late_test")
    }
  }

  test("restart from checkpoint resumes exactly-once into a file sink") {
    import java.nio.file.{Files, Path}
    val work = TestSpark.tempDir("graft-ckpt")
    val srcDir = work.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = work.resolve("ckpt").toString
    val out = work.resolve("out").toString

    def stage(from: Long, to: Long, name: String): Unit = {
      val tmp = work.resolve(s"stage-$name")
      spark.range(from, to).coalesce(1).write.parquet(tmp.toString)
      Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .forEach((p: Path) => Files.copy(p, srcDir.resolve(s"$name.parquet")))
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id BIGINT").parquet(srcDir.toString)
        .select(col("id"), (col("id") * 2).as("doubled"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    stage(0, 1000, "a")
    runOnce() // processes file a, commits offsets + sink manifest, stops
    stage(1000, 2000, "b")
    runOnce() // must resume from the checkpoint: only file b, no replay of a
    val result = spark.read.parquet(out)
    assert(result.count() === 2000, "no loss and no duplicates across restart")
    assert(result.select(countDistinct(col("id"))).head.getLong(0) === 2000)
    assert(result.filter(col("doubled") =!= col("id") * 2).count() === 0)
  }

  test("stateful sessionization: emitted + open sessions == batch sessions") {
    val emitted = EventStream.drain(
      EventStream.sessionize(EventStream.readEventRecords(spark, dir)).toDF(),
      OutputMode.Append).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList

    val batch = Relational.defs("q16_sessionize")(spark, dir)
      .select("user_id", "session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val users = batch.map(_._1).distinct.size

    // the stream emits a session only when the gap that closes it arrives,
    // so each user's last session remains open in state
    assert(emitted.size === batch.size - users)
    val batchClosed = batch.groupBy(_._1).flatMap { case (_, ss) =>
      ss.sortBy(_._2).dropRight(1)
    }.toSet
    assert(emitted.toSet === batchClosed)
  }

  test("streaming LWW state == batch latest rule, tombstones surfaced") {
    // reconcile per-batch updates exactly as the driver query does
    val got = EventStream.drain(
      EventStream.lwwState(EventStream.readEventRecords(spark, dir)).toDF(),
      OutputMode.Update)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_ts_us"), col("last_type"),
        col("last_value"), col("is_deleted"))).as("f"))
      .select(col("user_id"), col("f.last_type"), col("f.last_ts_us"),
        col("f.n_events"), col("f.is_deleted"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet

    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val want = graft.tables.Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("n"),
        (col("event_type") === "error").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got === want)
    // tombstones are carried, not dropped: every user appears
    assert(got.map(_._1) === want.map(_._1))
  }

  test("funnel state carries the filled prefix across ordered batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def e(id: Long, ns: Long, u: Long, t: String) =
      EventStream.Event(id, ns, u, t, 0.0)
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.funnelState(input.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_ms").start()
    try {
      // user 1 progresses across the split; user 2's purchase arrives
      // before any click and must NOT advance the funnel
      input.addData(e(1, 1000000L, 1, "signup"), e(2, 2000000L, 1, "view"),
        e(3, 1000000L, 2, "signup"), e(4, 1500000L, 2, "purchase"))
      q.processAllAvailable()
      input.addData(e(5, 3000000L, 1, "click"), e(6, 4000000L, 1, "purchase"),
        e(7, 2000000L, 2, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = try spark.table("funnel_ms")
      .groupBy("user_id")
      .agg(max(struct(col("stage_reached"), col("t_signup"), col("t_view"),
        col("t_click"), col("t_purchase"))).as("f"))
      .select(col("user_id"), col("f.stage_reached"), col("f.t_signup"),
        col("f.t_view"), col("f.t_click"), col("f.t_purchase"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), (2 to 5).map(i =>
          if (r.isNullAt(i)) -1L else r.getLong(i)))).toMap
    finally spark.catalog.dropTempView("funnel_ms")
    assert(got(1L) === ((4, Seq(1000L, 2000L, 3000L, 4000L))),
      s"user 1: ${got(1L)}")
    assert(got(2L) === ((2, Seq(1000L, 2000L, -1L, -1L))),
      s"user 2: ${got(2L)}")
  }

  test("attribution state carries the last click across ordered batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 24L * 3600 * 1000000000L
    def e(id: Long, ns: Long, u: Long, t: String, v: Double = 10.0) =
      EventStream.Event(id, ns, u, t, v)
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.attributionState(input.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_ms").start()
    try {
      // user 1: click in batch 1, purchase in batch 2 (within horizon)
      // -> attributed ACROSS the split; user 2: purchase with no click
      // ever; user 3: click then a purchase 8 days later -> NOT credited
      input.addData(e(1, 1L * day, 1, "click"),
        e(2, 1L * day, 3, "click"), e(3, 2L * day, 2, "purchase"))
      q.processAllAvailable()
      input.addData(e(4, 3L * day, 1, "purchase"),
        e(5, 9L * day + 1, 3, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val got = try spark.table("attr_ms")
      .select("ts_ns", "attr", "lag_ns").collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    finally spark.catalog.dropTempView("attr_ms")
    assert(got(2L * day) === ((0, -1L)), "no click ever -> unattributed")
    assert(got(3L * day) === ((1, 2L * day)), "cross-batch click credited")
    assert(got(9L * day + 1) === ((0, -1L)), "horizon exceeded -> unattributed")
  }

  test("markov state bridges ordered batch splits; first event emits nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def e(id: Long, ns: Long, u: Long, t: String) =
      EventStream.Event(id, ns, u, t, 0.0)
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.markovState(input.toDS())
      .toDF("user_id", "from_type", "to_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("markov_ms").start()
    try {
      // batch 1 arrives out of order in-batch; the sort fixes it
      input.addData(e(2, 2000L, 1, "view"), e(1, 1000L, 1, "signup"))
      q.processAllAvailable()
      // batch 2: the carried 'view' must produce view -> click
      input.addData(e(3, 3000L, 1, "click"), e(4, 1000L, 2, "signup"))
      q.processAllAvailable()
    } finally q.stop()
    val got = try spark.table("markov_ms").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    finally spark.catalog.dropTempView("markov_ms")
    assert(got === Set((1L, "signup", "view"), (1L, "view", "click")),
      s"got $got")
  }

  test("seq2 state bridges batch splits; first two events emit nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def e(id: Long, ns: Long, u: Long, t: String) =
      EventStream.Event(id, ns, u, t, 0.0)
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.seq2State(input.toDS())
      .toDF("user_id", "pattern")
      .writeStream.outputMode("append").format("memory")
      .queryName("seq2_ms").start()
    try {
      // batch 1: one event only — parked in state, nothing emitted
      input.addData(e(1, 1000L, 1, "signup"))
      q.processAllAvailable()
      assert(spark.table("seq2_ms").count() === 0)
      // batch 2 (out of order in-batch): completes two trigrams across
      // the split — signup>view>click and view>click>purchase
      input.addData(e(3, 3000L, 1, "click"), e(2, 2000L, 1, "view"),
        e(4, 4000L, 1, "purchase"), e(5, 1000L, 2, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = try spark.table("seq2_ms").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    finally spark.catalog.dropTempView("seq2_ms")
    assert(got === Set((1L, "signup>view>click"), (1L, "view>click>purchase")),
      s"got $got")
  }

  test("top-k heap state carries and evicts correctly across batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)] // (key, id, cents)
    val q = EventStream.topKState(input.toDS(), k = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("topk_ms").start()
    try {
      // batch 1: ids 1..4 with cents 40,10,30,20 — top3 = 1,3,4
      input.addData(("a", 1L, 40L), ("a", 2L, 10L), ("a", 3L, 30L),
        ("a", 4L, 20L))
      q.processAllAvailable()
      // batch 2: 50 takes first, 25 evicts 20; a tie (30) ranks by id
      input.addData(("a", 5L, 50L), ("a", 6L, 25L), ("a", 7L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    val fin = try spark.table("topk_ms")
      .groupBy("event_type").agg(max_by(col("ids"), col("seen")).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    finally spark.catalog.dropTempView("topk_ms")
    // (50,#5) (40,#1) (30,#3 beats #7 by id) — 25 and the tie loser out
    assert(fin("a") === Seq(5L, 1L, 3L))
  }

  test("foreachBatch anomaly monitor == batch q41 flags") {
    val out = graft.operators.Dedup.tempSigStore("graft-test-anomaly")
    EventStream.anomalyMonitor(spark, dir, out)
    val got = spark.read.parquet(out)
      .collect().map(_.toString).sorted.toSeq
    val want = Relational.defs("q41_anomaly")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("trainValTest: pure function of doc_id — stable under repartition") {
    val docs = graft.tables.Tables.load(spark, dir, "documents")
    val a = graft.operators.TextAnalysis.trainValTest(docs)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val b = graft.operators.TextAnalysis.trainValTest(docs.repartition(13))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(a === b)
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    val test = a.values.count(_ == "test") / n
    assert(math.abs(train - 0.8) < 0.06, s"train fraction $train")
    assert(math.abs(test - 0.1) < 0.05, s"test fraction $test")
  }
}
