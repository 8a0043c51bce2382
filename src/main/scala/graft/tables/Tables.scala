package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). Every query in [[graft.SparkEntry]]
  * receives the scale-factor directory at call time, so nothing here
  * caches paths. Reads are plain parquet scans — Catalyst pushes
  * filters/column pruning into them (asserted on .explain output in
  * PlanSpec).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One analyzed scan plan per (session, dir, table): `spark.read.parquet`
  // re-lists files and re-reads the parquet footer schema on every call,
  // which at ~70 queries × ~2 tables each is a measurable slice of the
  // per-query planning floor. DataFrames are immutable plans, so sharing
  // one across queries is safe; keyed by session IDENTITY so a new session
  // never reuses a stopped session's plans. (The driver test dirs are
  // write-once; a pipeline re-reading a directory whose FILES change would
  // bypass this cache.)
  //
  // Eviction: a stopped context's entries are dropped by an
  // application-end listener registered on the context's first load — the
  // map must not strongly reference dead sessions forever in a driver
  // that cycles contexts (test suites do). Sessions sharing one
  // SparkContext via newSession() are evicted together at context end,
  // which is when their plans die anyway; one listener per context, not
  // per session, so the listener bus does not grow with newSession().
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name (have: ${names.mkString(", ")})")
    if (name == "events") {
      // events.ts has shipped in two parquet encodings across driver data
      // generations: TIMESTAMP(NANOS) (rounds ≤9), which Spark 4 refuses
      // by default (PARQUET_TYPE_ILLEGAL) and this conf reads as a raw
      // nanosecond epoch long; and timestamp[us] (round 10+), handled
      // below by reading as an instant. [[events]] adapts to whichever
      // schema the scan reports, always publishing µs-grained ts_ns —
      // the DuckDB oracle's TIMESTAMP precision (the r8 q52 lesson).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the µs quantization must not cost parquet pushdown: this rule
      // turns `(ts div 1000)*1000 <cmp> literal` back into raw-column
      // ranges the source can translate (PlanSpec pins the PushedFilters).
      // A session built with GraftExtensions already runs the rule via
      // injectOptimizerRule — skip the experimental path there so the
      // rule sits in exactly one optimizer batch per session.
      val viaExtensions = spark.conf.getOption("spark.sql.extensions")
        .exists(_.contains("GraftExtensions"))
      if (!viaExtensions && !spark.experimental.extraOptimizations
        .contains(graft.plans.QuantizationPushdown))
        spark.experimental.extraOptimizations ++=
          Seq(graft.plans.QuantizationPushdown)
    }
    val sc = spark.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cache.keySet.removeIf(k => k._1.sparkContext eq sc)
          hooked.remove(sc)
        }
      })
    // scan creation is serialized per session: the events branch flips a
    // session conf around schema resolution, and a concurrent OTHER-table
    // scan created inside that window would resolve its timestamps under
    // the flipped setting (parallel test suites share the session). The
    // lock spans only footer reads (~ms, once per (dir, table)).
    cache.computeIfAbsent((spark, dir, name), _ => spark.synchronized {
      if (name == "events") {
        // µs-timestamp events data is parquet TIMESTAMP(MICROS,
        // isAdjustedToUTC=false); under the NTZ-inference default it would
        // read as TIMESTAMP_NTZ and every epoch extraction would go
        // through a session-timezone-dependent cast. Reading it as
        // TimestampType instead makes the column an INSTANT whose micros
        // equal the file's raw micros — timezone-independent, and exactly
        // what the DuckDB oracle's epoch_us(ts) sees. Conf is flipped only
        // around schema resolution (the relation pins its schema at
        // creation), then restored.
        val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "false")
        try spark.read.parquet(s"$dir/$name.parquet")
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else spark.read.parquet(s"$dir/$name.parquet")
    })
  }

  /** The events table with `ts_ns` (epoch nanoseconds at µs grain,
    * LongType — always ends in 000) and `ts` (the matching TimestampType
    * for calendar functions / windows). µs grain at the source keeps
    * every downstream ns value oracle-reproducible and makes
    * ORDER BY (ts_ns, event_id) deterministic across engines.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withTsNs(load(spark, dir, "events"))

  /** Publish the (ts_ns, ts) pair over a raw events scan, batch or
    * stream, adapting to the generation of the data (see [[load]]):
    *  - `ts` read as raw-nanosecond long (TIMESTAMP(NANOS) data):
    *    quantize to µs multiples, derive `ts` from the quantized value;
    *  - `ts` read as a µs instant (timestamp[us] data): ts_ns is exactly
    *    micros × 1000, and `ts` stays the BARE SCAN ATTRIBUTE so calendar
    *    range filters keep native parquet pushdown (ts_ns comparisons are
    *    restored by [[graft.plans.QuantizationPushdown]]);
    *  - TIMESTAMP_NTZ (explicit-schema stream paths): cast to instant
    *    first — wall-clock == instant only under a UTC session, which
    *    every graft session pins (oracle consistency requires it anyway).
    * Column layout is identical in all branches: ts_ns in the original ts
    * position, ts appended last.
    */
  def withTsNs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_ns", expr("(ts_ns div 1000) * 1000"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case other =>
        val tsExpr =
          if (other == TimestampNTZType) col("ts").cast("timestamp")
          else col("ts")
        val cols = raw.columns.map {
          case "ts" => (unix_micros(tsExpr) * lit(1000L)).as("ts_ns")
          case c => col(c)
        } :+ tsExpr.as("ts")
        raw.select(cols.toIndexedSeq: _*)
    }
  }
}
