package graft

import graft.operators.Skew
import graft.queries.Relational
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Coverage for the auxiliary operator surface: the salted skew join,
  * sketch-aggregate error bounds, and CSV/JSON source-sink roundtrips.
  */
class OperatorExtrasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fuzzy search: deletion-neighborhood join == brute-force edit " +
      "distance on a planted real-word vocabulary") {
    // real words with planted distance-1 neighbors (substitution,
    // insertion, deletion) and a transposition pair (distance 2, must
    // NOT match); each word repeated 6x so every one clears the cnt >= 5
    // vocab floor
    // "merge"'s derived query is "mere" (hash-determined deletion), so
    // including "mere" in the vocab plants a distance-0 exact hit
    val words = Seq("spark", "spars", "sparks", "park", "parks", "stark",
      "sapkr", "merge", "marge", "mergee", "forge", "mere")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, (w + " ") * 6) }
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.fuzzySearch(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet

    // brute force: replicate the query derivation with the same portable
    // hash expression, then cross every query with every vocab term
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = words.map(w => w -> 6L).toMap
    val queries = words.toDF("term")
      .select(col("term"),
        (pmod(graft.functions.hashes.portableHash60(
          concat(lit("fz:"), col("term"))),
          length(col("term")).cast("long")) + 1).cast("int").as("p"))
      .collect()
      .map(r => { val t = r.getString(0); val p = r.getInt(1)
        t.substring(0, p - 1) + t.substring(p) })
      .distinct
    val want = (for {
      q <- queries; (t, cnt) <- vocab
      d = lev(q, t) if d <= 1
    } yield (q, t, cnt, d)).toSet
    assert(got == want)
    // the planted transposition ("sapkr" vs "spark"-derived queries) is
    // distance >= 2 from every unrelated vocab word and never leaks in
    assert(got.forall { case (q, t, _, d) => d == lev(q, t) && d <= 1 })
    assert(want.exists(_._4 == 0), "planted a distance-0 collision")
    assert(want.exists(_._4 == 1), "planted distance-1 matches")
  }

  test("DTW: identity is 0, shifts align where L1 cannot, never exceeds " +
      "L1, and a hand-computed DP matches") {
    import graft.queries.Relational.dtwCents
    def l1(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map(t => math.abs(t._1 - t._2)).sum
    val spike = Array[Long](0, 0, 100, 0, 0, 0, 0, 0)
    val shifted = Array[Long](0, 0, 0, 0, 100, 0, 0, 0)
    assert(dtwCents(spike, spike) == 0L)
    // the warped path matches the spikes; L1 pays both spikes in full
    assert(dtwCents(spike, shifted) == 0L)
    assert(l1(spike, shifted) == 200L)
    // hand-computed 3x3: a=[1,2,3], b=[2,2,4] ->
    // costs [[1,1,3],[0,0,2],[1,1,1]]; best path 1+0+0+1 = 2
    assert(dtwCents(Array(1L, 2L, 3L), Array(2L, 2L, 4L)) == 2L)
    // DTW <= L1 on deterministic pseudo-random series (the diagonal path
    // IS the L1 alignment, DTW minimizes over a superset)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val a = Array.fill(30)(rnd.nextInt(1000).toLong)
      val b = Array.fill(30)(rnd.nextInt(1000).toLong)
      assert(dtwCents(a, b) <= l1(a, b))
    }
  }

  test("matrix profile: planted motif scores 0 at both copies, the " +
      "discord carries the max profile, exclusion zone respected") {
    import graft.queries.Relational.matrixProfile
    // 24-month series with an identical 6-month motif at pos 0 and 12,
    // and a one-off spike (discord) inside 18..23
    val motif = Array[Long](5, 9, 2, 7, 3, 8)
    val a = motif ++ Array[Long](1, 1, 1, 1, 1, 1) ++ motif ++
      Array[Long](1, 1, 900, 1, 1, 1)
    val mp = matrixProfile(a, 6).map(t => t._1 -> ((t._2, t._3))).toMap
    // the two motif copies are each other's nearest neighbors at SSD 0
    assert(mp(0) === ((0L, 12)))
    assert(mp(12) === ((0L, 0)))
    // every position containing the spike scores the spike against a 1
    // somewhere — the profile max lives in the spike's windows
    val discordPos = mp.maxBy { case (i, (s, _)) => (s, -i) }._1
    assert(discordPos >= 13 && discordPos <= 18, s"discord at $discordPos")
    // exclusion: no position reports a neighbor within |i-j| < 6
    mp.foreach { case (i, (_, j)) => assert(math.abs(i - j) >= 6) }
    // short series: no admissible neighbor pairs -> empty, never a crash
    assert(matrixProfile(Array[Long](1, 2, 3, 4, 5, 6, 7), 6).isEmpty)
    assert(matrixProfile(Array[Long](1, 2, 3), 6).isEmpty)
    // tie-break: constant series — every neighbor SSD 0, smallest j wins
    val const = Array.fill(18)(4L)
    matrixProfile(const, 6).foreach { case (i, s, j) =>
      assert(s == 0L && j == (if (i >= 6) 0 else i + 6), s"pos $i -> $j")
    }
  }

  test("salted join == plain join on skewed data") {
    // manufacture skew: 80% of rows share one key
    val big = spark.range(0, 20000)
      .select(when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 100)
        .as("k"), col("id").as("payload"))
    val dim = spark.range(0, 100).select(col("id").as("k"),
      concat(lit("dim-"), col("id")).as("label"))
    val plain = big.join(dim, "k")
      .agg(count(lit(1)), sum(col("payload"))).collect()(0)
    val salted = Skew.saltedJoin(big, dim, "k", salts = 8)
      .agg(count(lit(1)), sum(col("payload"))).collect()(0)
    assert(salted === plain)
    val profile = Skew.keySkewProfile(big, col("k")).collect()
    assert(profile.head.getLong(1) > 15000) // the hot key dominates
  }

  test("approx_count_distinct accuracy contract holds (q21)") {
    // the published gate: every class meets the 3·rsd (6%) band
    val rows = Relational.defs("q21_approx_distinct")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: within_3rsd is false")
    }
    // and the raw estimate (no longer published — the contract column
    // is) stays within 10% of exact, measured directly
    val raw = spark.read.parquet(s"${TestSpark.sf001}/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .collect()
    raw.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"${r.getString(0)}: exact=$exact approx=$approx")
    }
  }

  test("portable HLL estimate within 3 sigma of exact (q36)") {
    // m=256 -> relative standard error ~1.04/sqrt(256) = 6.5%; the raw
    // estimator also carries small-cardinality bias, so gate at 3 sigma
    val rows = Relational.defs("q36_hll_portable")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getDouble(2)
      val exact = r.getLong(3).toDouble
      assert(math.abs(est - exact) / exact < 0.195,
        s"${r.getString(0)}: exact=$exact hll=$est")
    }
  }

  test("CMS heavy hitters: est >= true always, overshoot bounded (q38)") {
    val rows = Relational.defs("q38_cms_heavy")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    val n = Tables.load(spark, TestSpark.sf001, "lineitem").count()
    rows.foreach { r =>
      val (truth, est) = (r.getLong(1), r.getLong(2))
      // the hard CMS guarantee: collisions only ADD
      assert(est >= truth, s"key ${r.getLong(0)}: est $est < true $truth")
      // expected collision mass per row is N/w; min over d=4 rows keeps
      // the overshoot well under a few multiples of it
      assert(est - truth <= 4 * n / 256,
        s"key ${r.getLong(0)}: overshoot ${est - truth} vs N/w = ${n / 256}")
    }
  }

  test("integer PageRank: mass conserved up to floor loss, hubs rank high") {
    val rows = Relational.defs("q39_pagerank")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getLong(2)).sum
    // floors only SHAVE mass, never add: per iteration the per-edge share
    // floor loses < 1 unit per edge and the damping/teleport floors < 2
    // per node — rebuild the edge count for the exact envelope
    val o = Tables.load(spark, TestSpark.sf001, "orders")
    val li = Tables.load(spark, TestSpark.sf001, "lineitem")
    val e = 2 * o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    assert(total <= 1000000000L, s"mass grew: $total")
    assert(total >= 1000000000L - 5 * (e + 2 * n),
      s"mass lost beyond floor loss: $total (edges $e)")
    // 100 suppliers absorb the flow of 1500 customers: the mean supplier
    // rank must clearly exceed the mean customer rank
    val (supp, cust) = rows.partition(_.getString(0) == "supplier")
    val meanS = supp.map(_.getLong(2)).sum.toDouble / supp.length
    val meanC = cust.map(_.getLong(2)).sum.toDouble / cust.length
    assert(meanS > 2 * meanC, s"supplier mean $meanS vs customer mean $meanC")
  }

  test("HITS: scores bounded by the scale, best hub/authority AT it") {
    val rows = Relational.defs("q48_hits")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    val (supp, cust) = rows.partition(_.getString(0) == "supplier")
    // l∞ renormalization: every score in [0, 10⁶], the max exactly 10⁶
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 1000000L))
    assert(supp.map(_.getLong(2)).max == 1000000L, "no authority at the scale")
    assert(cust.map(_.getLong(2)).max == 1000000L, "no hub at the scale")
  }

  test("funnel: stages are ordered and stage_reached counts the prefix") {
    val rows = Relational.defs("q47_funnel")(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ts = Seq(1, 2, 3, 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i)))
      // strictly increasing over the non-null prefix
      val defined = ts.takeWhile(_.isDefined).flatten
      assert(defined.zip(defined.tail).forall { case (a, b) => a < b },
        s"stage times not increasing: $r")
      // nulls form a suffix (a missed stage kills the rest)
      assert(ts.dropWhile(_.isDefined).forall(_.isEmpty), s"gap in funnel: $r")
      assert(r.getInt(5) == defined.length, s"stage_reached mismatch: $r")
    }
  }

  test("collocations: a planted phrase tops the lift ranking, floor enforced") {
    import spark.implicits._
    // "zeta qoph" occurs 6 times and its parts occur nowhere else; filler
    // words are common everywhere → phrase lift must dominate
    val filler = "alpha beta gamma alpha beta gamma"
    val docs = (0L until 30L).map { i =>
      val t = if (i < 6) s"$filler zeta qoph $filler" else filler
      (i, t)
    }.toDF("doc_id", "text")
    val top = graft.operators.TextAnalysis.collocations(docs, minCount = 5, k = 5)
      .collect()
    assert(top.nonEmpty)
    assert(top.head.getString(top.head.fieldIndex("x")) == "zeta" &&
      top.head.getString(top.head.fieldIndex("y")) == "qoph",
      s"planted phrase not top: ${top.mkString("; ")}")
    // the floor: nothing below minCount appears
    assert(top.forall(_.getLong(2) >= 5))
  }

  test("q41 integer z-score identity == float z-score off the boundary") {
    val rows = Relational.defs("q41_anomaly")(spark, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ns = rs.map(_._2.toDouble)
      val h = ns.length
      val mean = ns.sum / h
      val sd = math.sqrt(ns.map(n => (n - mean) * (n - mean)).sum / h)
      rs.foreach { case (t, n, flag) =>
        if (sd > 0) {
          val z = (n - mean) / sd
          // exactly AT z = 3 the two formulations may legitimately round
          // apart; away from it they must agree
          if (math.abs(z - 3.0) > 0.01)
            assert(flag === (if (z > 3.0) 1 else 0), s"$t n=$n z=$z flag=$flag")
        }
      }
    }
  }

  test("q42 native session_window conserves events and matches q16 count") {
    val dir = TestSpark.sf0001
    val sessions = Relational.defs("q42_session_window")(spark, dir).collect()
    val nEvents = Tables.load(spark, dir, "events").count()
    assert(sessions.map(_.getLong(2)).sum === nEvents,
      "session event counts must partition the event stream")
    val q16n = Relational.defs("q16_sessionize")(spark, dir).count()
    // both rules merge at a gap of exactly 30 min (measured below), so the
    // session partitions agree everywhere
    assert(sessions.length.toLong === q16n)
  }

  test("native session_window MERGES events exactly one gap apart") {
    // the r15 boundary fuzz planted a pair exactly 30 min apart and
    // caught the oracle asserting a split while Spark's session_window
    // merged: the session end (last event + gap) is INCLUSIVE for the
    // merge test. Pin the measured semantics with the minimal corpus so
    // an engine upgrade that flips the boundary fails here, not in a
    // fuzz run.
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 10:30:00") // == gap
    val t2 = java.sql.Timestamp.valueOf("2024-03-01 11:00:01") // gap + 1s
    val e = Seq((1L, t0), (1L, t1), (1L, t2)).toDF("user_id", "ts")
    val sessions = e
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(sessions.length === 2, sessions.mkString(";"))
    assert(sessions.map(_.getAs[Long]("n")).sorted.toSeq === Seq(1L, 2L),
      "exactly-gap pair must merge; gap+1s must split")
  }

  test("q43 incremental merge == direct aggregate over the union") {
    val dir = TestSpark.sf0001
    val got = Relational.defs("q43_incremental_agg")(spark, dir)
      .collect().map(_.toString).toSeq
    val e = Tables.events(spark, dir)
    val want = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .orderBy("event_type").collect().map(_.toString).toSeq
    assert(got === want)
  }

  test("percentile_approx sketch within 5% of exact percentile") {
    val o = Tables.load(spark, TestSpark.sf001, "orders")
    val r = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("percentile_approx(o_totalprice, 0.5, 1000)").as("approx")).collect()(0)
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("csv and json sinks/sources roundtrip a query result") {
    val df = Relational.defs("q01_pricing_summary")(spark, TestSpark.sf0001)
    val dir = TestSpark.tempDir("graft-fmt")
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/json")
    val fromCsv = spark.read.option("header", "true").schema(df.schema).csv(s"$dir/csv")
    val fromJson = spark.read.schema(df.schema).json(s"$dir/json")
    val want = df.collect().map(_.toString).sorted.toSeq
    assert(fromCsv.collect().map(_.toString).sorted.toSeq === want)
    assert(fromJson.collect().map(_.toString).sorted.toSeq === want)
  }

  test("QuantizationPushdown rewrite is value-exact on boundaries and negatives") {
    import spark.implicits._
    Tables.events(spark, TestSpark.sf0001) // installs the rule on the session
    val q = 1000L
    val xs = Seq(Long.MinValue + 5, -2001L, -2000L, -1999L, -1001L, -1000L,
      -999L, -1L, 0L, 1L, 999L, 1000L, 1001L, 1999L, 2000L, Long.MaxValue - 5)
    val df = xs.toDF("x")
    def t(v: Long) = v / q * q // Java truncation == Spark's div
    for (c <- Seq(-2000L, -1500L, -1000L, -999L, -1L, 0L, 1L, 500L, 999L,
      1000L, 1500L, 2000L)) {
      for ((op, truth) <- Seq[(String, Long => Boolean)](
        (">=", t(_) >= c), (">", t(_) > c), ("<", t(_) < c), ("<=", t(_) <= c),
        ("=", t(_) == c))) {
        val got = df.filter(expr(s"(x div $q) * $q $op $c"))
          .as[Long].collect().toSet
        val want = xs.filter(truth).toSet
        assert(got === want, s"op=$op c=$c")
      }
    }
    // (that the rewrite FIRES is pinned by PlanSpec's PushedFilters test
    // on the events scan — a LocalRelation folds before it can show here)
  }

  test("ScaledMicros rewrite (unix_micros×1000 vs ns literal) is value-exact") {
    import spark.implicits._
    Tables.events(spark, TestSpark.sf0001) // installs the rule on the session
    // micros values straddling 0 and the ms grain; ts_ns = m*1000
    val ms = Seq(-2000001L, -2000000L, -1999999L, -1001L, -1000L, -999L,
      -1L, 0L, 1L, 999L, 1000L, 1001L, 1999999L, 2000000L, 2000001L)
    val df = ms.toDF("m").select(col("m"), timestamp_micros(col("m")).as("t"))
    // ns literals both ON and OFF the ×1000 grid (the = case is only
    // rewritten when 1000 | c; the others must be exact everywhere)
    for (c <- Seq(-2000000000L, -1999999001L, -1000000L, -999999L, -1L, 0L,
      1L, 999L, 1000L, 999999L, 1000000L, 1000001L, 2000000000L)) {
      for ((op, truth) <- Seq[(String, Long => Boolean)](
        (">=", _ * 1000 >= c), (">", _ * 1000 > c), ("<", _ * 1000 < c),
        ("<=", _ * 1000 <= c), ("=", _ * 1000 == c))) {
        val got = df.filter(expr(s"unix_micros(t) * 1000 $op $c"))
          .select("m").as[Long].collect().toSet
        val want = ms.filter(truth).toSet
        assert(got === want, s"op=$op c=$c")
      }
    }
  }

  test("skyline2d == brute-force dominance on ties, duplicates, and negatives") {
    // adversarial frame: duplicate frontier points (both must survive),
    // a point dominated only through equal-x (strict y), a point
    // dominated only through equal-y (strict x), negative y values, and
    // x values straddling bucket boundaries of the two-level cummax
    val pts = Seq(
      (1L, 100L, 50L), (2L, 100L, 50L),   // duplicates on the frontier?
      (3L, 100L, 40L),                     // same x, lower y -> dominated
      (4L, 90L, 50L),                      // same y, lower x -> dominated
      (5L, 250L, -10L), (6L, 251L, -10L),  // eq-y pair across a boundary
      (7L, 0L, 99L), (8L, 10_050L, 1L),    // far buckets
      (9L, 10_050L, 1L), (10L, 9_999L, 2L),
    ).toDF("id", "x", "y")
    val got = graft.queries.Relational.skyline2d(pts, "id", "x", "y", 100L)
      .select("id").collect().map(_.getLong(0)).toSet
    val rows = pts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = rows.filter { case (_, x, y) =>
      !rows.exists { case (_, qx, qy) =>
        qx >= x && qy >= y && (qx > x || qy > y) }
    }.map(_._1).toSet
    assert(got === want, s"got $got want $want")
    assert(Set(1L, 2L).subsetOf(got), "duplicate frontier points must both survive")
    assert(!got.contains(3L) && !got.contains(4L) && !got.contains(5L))
  }

  test("PlanAudit flags cartesian joins, global windows, and wide scans; clean plans pass") {
    import graft.tools.PlanAudit
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
    val o = Tables.load(spark, TestSpark.sf0001, "orders")
    // deliberate scale-killer: both sides unbounded (plan-only — never run)
    val cart = li.crossJoin(o)
    assert(PlanAudit.audit(cart).exists(f => f.rule == "cartesian" && f.error))
    // plan-proved bounded sides downgrade to the bounded-cross warning:
    // limits bound each side, the product (25) is driver-adjacent
    val bounded = li.limit(5).crossJoin(o.limit(5))
    val bf = PlanAudit.audit(bounded)
    assert(bf.exists(f => f.rule == "bounded-cross" && !f.error), bf.toString)
    assert(!bf.exists(_.error))
    // a lineage-truncated side (localCheckpoint) hides its bound — stays
    // an error, by design: the bound must be visible IN THE PLAN
    val opaque = li.crossJoin(
      o.agg(max(col("o_totalprice")).as("m")).localCheckpoint(true))
    assert(PlanAudit.audit(opaque).exists(f => f.rule == "cartesian" && f.error))
    // the same statistic via Scalar.scalarRow keeps the 1-row bound visible
    val visible = li.crossJoin(graft.tools.Scalar.scalarRow(
      o.agg(max(col("o_totalprice")).as("m"))))
    assert(PlanAudit.audit(visible).exists(f => f.rule == "bounded-cross"))
    assert(!PlanAudit.audit(visible).exists(_.error))
    val gw = o.withColumn("rn",
      row_number().over(Window.orderBy(col("o_orderkey"))))
    assert(PlanAudit.audit(gw).exists(f => f.rule == "global-window" && f.error))
    val e = intercept[IllegalArgumentException] { PlanAudit.assertScaleSafe(gw) }
    assert(e.getMessage.contains("global-window"))
    // unpruned wide scan warns, pruned one doesn't
    val wide = li.filter(col("l_quantity") > 0) // all 11 columns survive
    assert(PlanAudit.audit(wide).exists(f => f.rule == "wide-scan" && !f.error))
    // clean plans from the roster audit clean (q87 is deliberately
    // absent: its bucket-maxima cummax IS a global window — bounded by
    // the value range over the bucket width, which the audit can't size)
    for (q <- Seq("q44_tpch_q3", "q03_broadcast_join_agg", "q85_native_topk",
        "q88_interval_join", "q89_equidepth_hist", "q90_mode",
        "q91_join_fanout", "q92_winsorize", "q93_attribution",
        "q94_pit_join", "q95_drift", "q96_decile_lift",
        "q97_ema", "q98_linear_attribution", "q102_markov",
        "q103_ams", "q104_cusum", "q111_regression", "q113_fd_audit",
        "q115_item_similarity", "q116_seq_mining", "q117_moving_median",
        "q119_interpolate", "q120_weighted_median", "q121_moving_mad",
        "q123_gini", "q124_hhi", "q125_seasonality", "q126_lag_features",
        "q127_spatial_join", "q129_concurrency", "q130_pareto",
        "q131_dup_payments", "q134_ab_test", "q136_holt", "q139_sax",
        "q141_rolling_ols", "q144_assortativity", "q145_forecast_eval",
        "q147_fifo_allocation", "q148_rev_recognition",
        "q150_holt_winters"))
      PlanAudit.assertScaleSafe(Relational.defs(q)(spark, TestSpark.sf0001))
  }

  test("TopKPerKey equals the window formulation on skewed data; edge cases hold") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 80% of rows on one hot key + singleton keys + a key with fewer
    // than k rows; unique id makes the ordering total
    val rows = (0 until 4000).map { i =>
      val key = if (i % 5 != 0) 7L else (i % 97).toLong
      (i.toLong, key, (i * 2654435761L) % 1000)
    }
    val df = rows.toDF("id", "key", "score").repartition(13)
    val got = graft.plans.TopKPerKey
      .perKey(df, Seq("key"), Seq("score" -> false, "id" -> true), k = 5)
      .select("id").as[Long].collect().toSet
    val want = df.withColumn("rn", row_number().over(
        Window.partitionBy("key")
          .orderBy(col("score").desc, col("id").asc)))
      .filter(col("rn") <= 5).select("id").as[Long].collect().toSet
    assert(got === want)
    // k larger than any group: identity
    val all = graft.plans.TopKPerKey
      .perKey(df, Seq("key"), Seq("id" -> true), k = 100000)
    assert(all.count() === 4000)
    // empty input: empty result, schema intact
    val none = graft.plans.TopKPerKey
      .perKey(df.filter(lit(false)), Seq("key"), Seq("id" -> true), k = 3)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "key", "score"))
    // unknown column fails loudly
    val e = intercept[RuntimeException] {
      graft.plans.TopKPerKey.perKey(df, Seq("nope"), Seq("id" -> true), 1)
    }
    assert(e.getMessage.contains("no column 'nope'"))
  }

  test("signature store: parameter drift and missing _meta.json are rejected") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val store = TestSpark.tempDir("graft-test-sigmeta").toString
    Dedup.writeSignatureStore(docs.filter(col("doc_id") < 50), store)
    val batch = docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
    // matching meta: reads fine
    assert(Dedup.incrementalLshPairs(spark, store, batch).columns.length === 2)
    // simulate a writer/reader parameter drift (store built at K=16 read
    // by this K=32 build): the reader must fail loudly, not join garbage
    val metaPath = java.nio.file.Paths.get(store, Dedup.StoreMetaFile)
    java.nio.file.Files.writeString(metaPath,
      Dedup.storeMetaJson.replace("\"k\":32", "\"k\":16"))
    // drop the local FS checksum sidecar: the test edits the file behind
    // Hadoop's back, and a stale .crc fails before the mismatch check
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(store, s".${Dedup.StoreMetaFile}.crc"))
    val drift = intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairs(spark, store, batch)
    }
    assert(drift.getMessage.contains("incompatible"), drift.getMessage)
    // a bare parquet dir with no sidecar is not a signature store
    java.nio.file.Files.delete(metaPath)
    val missing = intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairs(spark, store, batch)
    }
    assert(missing.getMessage.contains(Dedup.StoreMetaFile), missing.getMessage)
  }

  test("unrestricted Damerau-Levenshtein: known vectors, variant identity, bounds") {
    import graft.functions.EditDist
    import org.apache.spark.unsafe.types.UTF8String
    def dl(a: String, b: String): Int =
      EditDist.damerau(UTF8String.fromString(a), UTF8String.fromString(b))
    // the OSA-disagreement vectors (probed against DuckDB's
    // damerau_levenshtein — these are what pin the UNRESTRICTED variant:
    // OSA would say 3 and 4)
    assert(dl("ca", "abc") === 2)
    assert(dl("a cat", "an abct") === 3)
    // classics
    assert(dl("kitten", "sitting") === 3)
    assert(dl("ab", "ba") === 1)
    assert(dl("abcd", "acbd") === 1)
    assert(dl("", "abc") === 3 && dl("abc", "") === 3 && dl("", "") === 0)
    assert(dl("same", "same") === 0)
    // properties on pseudorandom strings: symmetry, dl <= levenshtein,
    // triangle-ish lower bound |len difference|
    val rnd = new scala.util.Random(42)
    def randStr() = (0 until 1 + rnd.nextInt(12))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 300) {
      val (a, b) = (randStr(), randStr())
      val d = dl(a, b)
      assert(d === dl(b, a))
      assert(d >= math.abs(a.length - b.length))
      val lev = spark.range(1).select(
        levenshtein(lit(a), lit(b))).head().getInt(0)
      assert(d <= lev, s"dl($a,$b)=$d > lev=$lev")
    }
  }

  test("Jaro-Winkler: DuckDB-probed vectors, convention corners, bounds") {
    import graft.functions.JaroWinklerImpl
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinklerImpl.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // golden values probed from DuckDB's jaro_winkler_similarity —
    // exact doubles, not approximations (the hash-gate requirement)
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") === 0.8962962962962964)
    assert(jw("DWAYNE", "DUANE") === 0.8400000000000001)
    assert(jw("CRATE", "TRACE") === 0.7333333333333334)
    assert(jw("hello world", "hello wrld") === 0.9818181818181818)
    // convention corners: empty-empty is 0 (DuckDB's rule, NOT the
    // textbook 1), 1-char strings compare directly
    assert(jw("", "") === 0.0 && jw("abc", "") === 0.0)
    assert(jw("a", "a") === 1.0 && jw("a", "b") === 0.0)
    assert(jw("same", "same") === 1.0)
    // properties: symmetry and [0, 1] bounds on pseudorandom strings;
    // codegen'd column path agrees with the direct call
    val rnd = new scala.util.Random(7)
    def randStr() = (0 until rnd.nextInt(12))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 300) {
      val (a, b) = (randStr(), randStr())
      val s = jw(a, b)
      assert(s === jw(b, a))
      assert(s >= 0.0 && s <= 1.0)
    }
    val viaCol = spark.range(1).select(
      graft.functions.EditDist.jaroWinkler(
        lit("DIXON"), lit("DICKSONX"))).head().getDouble(0)
    assert(viaCol === 0.8133333333333332)
  }

  test("q98 linear attribution conserves cents exactly") {
    import org.apache.spark.sql.types.DecimalType
    val sf = TestSpark.sf0001
    val horizonNs = 7L * 24 * 3600 * 1000000000L
    val out = Relational.defs("q98_linear_attribution")(spark, sf)
    val credited = out.agg(
      sum(round(col("attributed_revenue") * 100).cast("long"))).head().getLong(0)
    // ground truth: Σ cents over purchases having >= 1 click in horizon
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ns").as("c_ts_ns"))
    val want = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("p_ts_ns"),
        col("event_id").as("p_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .join(clicks, "user_id")
      .filter(col("c_ts_ns") <= col("p_ts_ns")
        && col("c_ts_ns") >= col("p_ts_ns") - horizonNs)
      .select("p_id", "cents").distinct()
      .agg(sum("cents")).head().getLong(0)
    assert(credited === want,
      s"credited $credited cents != attributed purchase revenue $want")
  }

  test("q100 weighted sssp agrees with q78 bfs on reachability; source at 0") {
    val sssp = Relational.defs("q100_sssp")(spark, TestSpark.sf0001)
    val bfs = Relational.defs("q78_bfs_hops")(spark, TestSpark.sf0001)
    val dReach = sssp.filter(col("dist").isNotNull)
      .select("node_type", "node_id").collect().map(_.toSeq).toSet
    val bReach = bfs.filter(col("hops").isNotNull)
      .select("node_type", "node_id").collect().map(_.toSeq).toSet
    // 6 weighted relaxation rounds reach exactly the <=6-edge set; BFS
    // caps at 8 hops but this graph's diameter is ~4, so the sets match
    assert(dReach === bReach)
    assert(sssp.filter(col("dist") === 0).count() === 1, "exactly one source")
    // weighted dist >= hops (every edge weight >= 1)
    val joined = sssp.join(bfs, Seq("node_type", "node_id"))
      .filter(col("dist").isNotNull)
    assert(joined.filter(col("dist") < col("hops")).count() === 0)
  }

  test("q101 benford: all nine digits, shares sum to one") {
    val out = Relational.defs("q101_benford")(spark, TestSpark.sf0001).collect()
    assert(out.map(_.getInt(0)).toSet === (1 to 9).toSet)
    val s = out.map(_.getDouble(2)).sum
    assert(math.abs(s - 1.0) < 1e-9, s"shares sum to $s")
  }

  test("q102 markov: rows normalize to one; transition count identity") {
    val out = Relational.defs("q102_markov")(spark, TestSpark.sf0001).cache()
    val rowSums = out.groupBy("from_type").agg(sum(col("p")).as("s"))
    assert(rowSums.filter(abs(col("s") - 1.0) > 1e-9).count() === 0)
    // Σ transitions = Σ_users (events_u - 1)
    val ev = Tables.events(spark, TestSpark.sf0001)
    val want = ev.groupBy("user_id").agg((count(lit(1)) - 1).as("t"))
      .agg(sum("t")).head().getLong(0)
    assert(out.agg(sum("n")).head().getLong(0) === want)
    out.unpersist()
  }

  test("q97 ema: head renormalization masses and the single-term fixed point") {
    val out = Relational.defs("q97_ema")(spark, TestSpark.sf0001).cache()
    val nTypes = out.select("event_type").distinct().count()
    // each series head contributes exactly one row at each partial weight
    // mass 128, 192, 224, ..., 254 (order-free statement of "the first 7
    // rows renormalize over the lags present"); everything else is 255
    val partials = Seq(128, 192, 224, 240, 248, 252, 254)
    for (m <- partials)
      assert(out.filter(col("wsum") === m).count() === nTypes, s"mass $m")
    assert(out.filter(!col("wsum").isin(255 +: partials: _*)).count() === 0)
    // a wsum=128 row has only its own term: ema == value exactly
    assert(out.filter(col("wsum") === 128)
      .filter(abs(col("ema") - col("value")) > 1e-9).count() === 0)
    out.unpersist()
  }

  test("q103 ams: exact F2 cross-checked; estimator is a positive finite value") {
    val out = Relational.defs("q103_ams")(spark, TestSpark.sf0001).cache()
    // exact_f2 recomputed independently from the raw events
    val want = Tables.events(spark, TestSpark.sf0001)
      .groupBy("event_type", "user_id").count()
      .groupBy("event_type")
      .agg(sum(col("count") * col("count")).as("f2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- out.collect()) {
      val (et, n, f2, est) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(f2 === want(et).toDouble, s"$et exact F2")
      // F2 bounds: n <= F2 <= n^2; the estimator is a sum of squares / 3
      assert(f2 >= n && f2 <= n.toDouble * n, s"$et F2 out of bounds")
      assert(est >= 0 && java.lang.Double.isFinite(est), s"$et estimate")
      // median-of-means with 15 fixed signs: sanity envelope, not a
      // probabilistic claim — the hash is deterministic so this is stable
      assert(est / f2 > 0.05 && est / f2 < 20.0, s"$et ratio ${est / f2}")
    }
    out.unpersist()
  }

  test("q109 capped cumsum == independent driver-side replay of the recurrence") {
    val out = Relational.defs("q109_capped_cumsum")(spark, TestSpark.sf0001)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = Tables.events(spark, TestSpark.sf0001)
      .select("user_id", "ts_ns", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
      .groupBy(_._1).map { case (u, evs) =>
        var b = 0L; var mx = 0L; var hits = 0L
        for (e <- evs.sortBy(x => (x._2, x._3))) {
          val cents = new java.math.BigDecimal(e._5)
            .setScale(2, java.math.RoundingMode.HALF_UP)
            .movePointRight(2).longValueExact()
          val delta = e._4 match {
            case "purchase" => cents
            case "click" => -cents
            case _ => 0L
          }
          val nb = b + delta
          if (nb < 0) { hits += 1; b = 0L } else b = nb
          if (b > mx) mx = b
        }
        u -> ((evs.length.toLong, b, mx, hits))
      }
    assert(out === want)
  }

  test("q107 concomp: six rounds reach the fixed point; q78 reachability agrees") {
    val comp = Relational.defs("q107_concomp")(spark, TestSpark.sf0001).cache()
    // canonical labels: every component's id is one of its member nodes
    val enc = comp.withColumn("enc",
      when(col("node_type") === "customer", col("node_id") * 2)
        .otherwise(col("node_id") * 2 + 1))
    assert(enc.filter(col("component") > col("enc")).count() === 0,
      "component id must be the minimum member")
    // the BFS source's component == its reachable set (diameter < 6)
    val bfs = Relational.defs("q78_bfs_hops")(spark, TestSpark.sf0001)
    val reach = bfs.filter(col("hops").isNotNull)
      .select("node_type", "node_id").collect().map(_.toSeq).toSet
    val srcComp = enc.orderBy("enc").select("component").first().getLong(0)
    val inComp = comp.filter(col("component") === srcComp)
      .select("node_type", "node_id").collect().map(_.toSeq).toSet
    assert(inComp === reach, "source component must equal BFS reachable set")
    // comp_size sums back to the node count
    assert(comp.agg(sum(lit(1))).head().getLong(0) ===
      comp.select("component", "comp_size").distinct()
        .agg(sum("comp_size")).head().getLong(0))
    comp.unpersist()
  }

  test("q108 rfm: quintile scores in range, customers conserved") {
    val out = Relational.defs("q108_rfm")(spark, TestSpark.sf0001).cache()
    for (c <- Seq("r_score", "f_score", "m_score"))
      assert(out.filter(col(c) < 1 || col(c) > 5).count() === 0, c)
    val nCust = Tables.load(spark, TestSpark.sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(out.agg(sum("n_customers")).head().getLong(0) === nCust)
    // every cell's segment matches the stated CASE order
    for (r <- out.collect()) {
      val (rs, fs, ms) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val want =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 4 && fs >= 3) "loyal"
        else if (rs >= 4) "recent"
        else if (fs >= 4) "frequent_lapsed"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(r.getString(3) === want, s"cell ($rs,$fs,$ms)")
    }
    out.unpersist()
  }

  test("ann_mmr: greedy invariants — top-rel first, distinct, non-increasing") {
    import graft.operators.Similarity
    val out = Similarity.mmrTopK(
      Tables.load(spark, TestSpark.sf0001, "embeddings")).cache()
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    for ((q, rows) <- byQ) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getLong(2)).distinct.length === sorted.length,
        s"query $q: duplicate selections")
      // the mmr of successive picks never increases (maxsim only grows)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a + 1e-12 },
        s"query $q: mmr must be non-increasing, got ${scores.toSeq}")
    }
    out.unpersist()
  }

  test("q105 stratified: allocation conserves the target and respects strata") {
    val out = Relational.defs("q105_stratified")(spark, TestSpark.sf0001).cache()
    // largest-remainder conservation: Σalloc == 1000 exactly
    assert(out.agg(sum("alloc")).head().getLong(0) === 1000L)
    // the sample fills its allocation (population >= alloc per stratum)
    assert(out.filter(col("n_sampled") =!= col("alloc")).count() === 0)
    assert(out.filter(col("alloc") > col("n_pop")).count() === 0)
    // proportionality: |alloc - 1000*pop/N| < 1 by construction
    val n = out.agg(sum("n_pop")).head().getLong(0)
    for (r <- out.collect()) {
      val ideal = 1000.0 * r.getLong(1) / n
      assert(math.abs(r.getLong(2) - ideal) < 1.0,
        s"${r.getString(0)}: alloc ${r.getLong(2)} vs ideal $ideal")
    }
    out.unpersist()
  }

  test("q106 basket rules: support bounds and the lift cross-identity") {
    val out = Relational.defs("q106_basket_rules")(spark, TestSpark.sf0001)
      .cache()
    assert(out.count() > 0, "no rules above support at sf0.001")
    assert(out.filter(col("supp_ab") > col("supp_a")
      || col("supp_ab") > col("supp_b")).count() === 0)
    assert(out.filter(col("conf_a_to_b") <= 0 || col("conf_a_to_b") > 1
      || col("conf_b_to_a") <= 0 || col("conf_b_to_a") > 1).count() === 0)
    // ordered-pair canonical form: a < b always
    assert(out.filter(col("brand_a") >= col("brand_b")).count() === 0)
    out.unpersist()
  }

  test("q104 cusum: weighted mean identity and changepoint day membership") {
    val out = Relational.defs("q104_cusum")(spark, TestSpark.sf0001).cache()
    val days = Tables.events(spark, TestSpark.sf0001)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct().collect().map(_.getString(0)).toSet
    for (r <- out.collect()) {
      val (nDays, total, day) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(days.contains(day), s"change day $day not in data")
      assert(r.getDouble(4) >= 0.0, "max_cusum >= 0")
      // i*mean_before + (n-i)*mean_after == total (exact integers under
      // the two divisions, so equality holds to float tolerance)
      if (!r.isNullAt(6)) {
        val before = r.getDouble(5); val after = r.getDouble(6)
        // recover i from the two means: before*i + after*(n-i) = total
        val i = math.round((total - after * nDays) / (before - after + 1e-300))
        if (math.abs(before - after) > 1e-9) {
          assert(i >= 1 && i < nDays, s"interior changepoint index $i")
          assert(math.abs(before * i + after * (nDays - i) - total) < 1e-6)
        }
      }
    }
    out.unpersist()
  }

  test("q111 regression == independent driver-side OLS over the day grain") {
    val out = Relational.defs("q111_regression")(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    val daily = Tables.events(spark, TestSpark.sf0001)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0),
        java.time.LocalDate.parse(r.getString(1)).toEpochDay.toDouble,
        r.getLong(2).toDouble))
      .groupBy(_._1)
    for ((cls, pts) <- daily) {
      val r = out(cls)
      assert(r.getLong(1) === pts.size.toLong)
      val n = pts.size.toDouble
      val sx = pts.map(_._2).sum; val sy = pts.map(_._3).sum
      val sxy = pts.map(p => p._2 * p._3).sum
      val sxx = pts.map(p => p._2 * p._2).sum
      val syy = pts.map(p => p._3 * p._3).sum
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      if (den > 0) {
        assert(math.abs(r.getDouble(2) - num / den) < 1e-9 * (1 + math.abs(num / den)))
        val ic = (sy * sxx - sx * sxy) / den
        assert(math.abs(r.getDouble(3) - ic) < 1e-6 * (1 + math.abs(ic)))
        if (deny > 0) {
          val r2 = r.getDouble(4)
          assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12, s"r2 in [0,1]: $r2")
          assert(math.abs(r2 - (num / den) * (num / deny)) < 1e-9)
        }
      } else assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
    }
  }

  test("q112 k-core: 3-core nests in 2-core; survivors verified by re-peeling") {
    val out = Relational.defs("q112_kcore")(spark, TestSpark.sf0001).cache()
    assert(out.filter(col("in_3core") && !col("in_2core")).count() === 0,
      "3-core must be a subset of the 2-core")
    // independent driver-side peel over the collected edge list
    val o = Tables.load(spark, TestSpark.sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val und = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    def peel(k: Int): Set[Long] = {
      var alive = und.flatMap(e => Seq(e._1, e._2)).toSet
      for (_ <- 1 to 6) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (n, xs) => n -> xs.size }
        alive = deg.filter(_._2 >= k).keySet.toSet
      }
      alive
    }
    val want2 = peel(2); val want3 = peel(3)
    val got = out.collect().map { r =>
      val node = r.getLong(1) * 2 + (if (r.getString(0) == "supplier") 1 else 0)
      (node, r.getBoolean(3), r.getBoolean(4))
    }
    assert(got.count(_._2) === want2.size)
    assert(got.count(_._3) === want3.size)
    got.foreach { case (n, c2, c3) =>
      assert(c2 === want2(n), s"2-core membership of node $n")
      assert(c3 === want3(n), s"3-core membership of node $n")
    }
    out.unpersist()
  }

  test("ta_zipf: dense ranks, non-increasing freqs, normalized head") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.zipfProfile(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === (i + 1).toLong, "dense 1-based rank")
      assert(r.getLong(3) === r.getLong(0) * r.getLong(2), "rf = rank·freq")
    }
    out.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) >= b.getLong(2),
        "freq non-increasing down the ranks")
      case _ =>
    }
    assert(out.head.getDouble(4) === 1.0, "rank-1 rf_norm is exactly 1")
  }

  test("q114 bitmap: pass set contains members; bit count bounded") {
    val rows = Relational.defs("q114_bitmap_index")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mask, bits, members, pass, fp) =
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(bits === java.lang.Long.bitCount(mask))
      assert(bits >= 1 && bits <= 60)
      assert(pass >= members, "the bitmap can never miss a member")
      assert(fp >= 0.0 && fp < 1.0)
      assert(math.abs(fp - (pass - members).toDouble / pass) < 1e-15)
    }
  }

  test("q115 item similarity == independent replay; similarity bounds hold") {
    val out = Relational.defs("q115_item_similarity")(spark, TestSpark.sf0001)
      .collect()
    // independent driver-side replay over the collected bipartite edges
    val pw = Tables.load(spark, TestSpark.sf0001, "orders")
      .join(Tables.load(spark, TestSpark.sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = pw.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).toSet }
    val keep = pw.groupBy(_._1).filter(_._2.length <= 50).keySet
    val byCappedSupp = pw.filter(e => keep(e._1))
      .groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).toSet }
    val want = (for {
      (s1, c1) <- byCappedSupp; (s2, c2) <- byCappedSupp
      if s1 < s2
      common = (c1 & c2).size if common >= 3
    } yield (s1, s2) -> common).toMap
    assert(out.length === want.size)
    out.foreach { r =>
      val (s1, s2, common, n1, n2) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(want((s1, s2)) === common)
      assert(n1 === bySupp(s1).size && n2 === bySupp(s2).size,
        "denominators come from the UNCAPPED neighborhoods")
      val (j, c) = (r.getDouble(5), r.getDouble(6))
      assert(j > 0 && j <= c && c <= 1.0)
      assert(math.abs(j - common.toDouble / (n1 + n2 - common)) < 1e-15)
    }
  }

  test("q116 sequence mining: 3-part patterns, support bounds, ordered head") {
    val out = Relational.defs("q116_seq_mining")(spark, TestSpark.sf0001)
      .collect()
    assert(out.nonEmpty && out.length <= 25)
    out.foreach { r =>
      assert(r.getString(0).split(">").length === 3)
      assert(r.getLong(1) >= r.getLong(2), "occurrences >= supporting users")
      assert(r.getLong(2) >= 5L)
    }
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) > b.getLong(2)
          || (a.getLong(2) === b.getLong(2) && (a.getLong(1) > b.getLong(1)
            || (a.getLong(1) === b.getLong(1)
              && a.getString(0) < b.getString(0)))),
          "total (support, occur, pattern) order")
      case _ =>
    }
  }

  test("q117 moving median: window bounds and element membership") {
    val out = Relational.defs("q117_moving_median")(spark, TestSpark.sf0001)
      .collect()
    assert(out.nonEmpty)
    val byClass = out.groupBy(_.getString(0))
    for ((_, rows) <- byClass) {
      val ordered = rows.sortBy(_.getString(1))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val (x, wn, med) = (r.getLong(2), r.getInt(3), r.getLong(4))
        assert(wn === math.min(i + 1, 7), "trailing frame width")
        if (i == 0) assert(med === x, "1-wide window: median is the value")
        // the median is an actual element of the trailing window
        val window = ordered.slice(math.max(0, i - 6), i + 1).map(_.getLong(2))
        assert(window.contains(med))
        assert(med === window.sorted.apply((window.length + 1) / 2 - 1),
          "lower-median element rule")
      }
    }
  }

  test("q118 binary segmentation: halves partition the root series") {
    val out = Relational.defs("q118_binary_seg")(spark, TestSpark.sf0001)
      .collect()
    val byClass = out.groupBy(_.getString(0))
    for ((cls, rows) <- byClass) {
      val bySeg = rows.map(r => r.getString(1) -> r).toMap
      assert(bySeg.contains("root"), s"$cls has a root changepoint")
      val rootDays = bySeg("root").getLong(2)
      val halfDays = Seq("left", "right").flatMap(bySeg.get).map(_.getLong(2))
      if (halfDays.size == 2)
        assert(halfDays.sum === rootDays,
          s"$cls halves partition the ${rootDays}-day series")
      rows.foreach(r => assert(r.getDouble(4) >= 0.0))
    }
  }

  test("q119 interpolation: kept days pass through; masked days blend neighbors") {
    val out = Relational.defs("q119_interpolate")(spark, TestSpark.sf0001)
      .collect()
    val byClass = out.groupBy(_.getString(0))
    for ((_, rows) <- byClass) {
      val ordered = rows.sortBy(_.getLong(1))
      val raw = ordered.flatMap(r =>
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
      ordered.foreach { r =>
        if (r.getInt(2) == 1) {
          assert(r.getDouble(4) === r.getLong(3).toDouble,
            "kept day passes through exactly")
          assert(r.isNullAt(5), "kept day has no reconstruction error")
        } else if (!r.isNullAt(4)) {
          // interpolated values stay inside the kept-value envelope
          assert(r.getDouble(4) >= raw.min.toDouble - 1e-9
            && r.getDouble(4) <= raw.max.toDouble + 1e-9)
          if (!r.isNullAt(3))
            assert(math.abs(r.getDouble(5)
              - math.abs(r.getDouble(4) - r.getLong(3))) < 1e-9)
        }
      }
      // the decimation really fires: some masked day was reconstructed
      assert(ordered.exists(r => r.getInt(2) == 0 && !r.isNullAt(5)),
        "interpolation branch is live")
    }
  }

  test("q120 weighted median == independent replay of the integer rule") {
    val out = Relational.defs("q120_weighted_median")(spark, TestSpark.sf0001)
      .collect()
    val pc = Tables.load(spark, TestSpark.sf0001, "customer")
      .join(Tables.load(spark, TestSpark.sf0001, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    val byNation = pc.groupBy(_._1)
    assert(out.length === byNation.size)
    out.foreach { r =>
      val xs = byNation(r.getInt(0)).sortBy(_._2)
      val totw = xs.map(_._3).sum
      var cum = 0L
      val wm = xs.find { x => cum += x._3; cum * 2 >= totw }.get._2
      assert(r.getLong(3) === wm, s"nation ${r.getInt(0)} weighted median")
      assert(r.getLong(1) === xs.length.toLong)
      assert(r.getLong(2) === totw)
    }
  }

  test("ta_burstiness: bounds and head ordering") {
    val out = graft.operators.TextAnalysis.burstiness(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), "occurrences >= containing docs")
      assert(r.getDouble(3) >= 1.0, "burstiness is a per-doc mean >= 1")
    }
    out.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(1) > b.getLong(1)
        || (a.getLong(1) === b.getLong(1) && a.getString(0) < b.getString(0)))
      case _ =>
    }
  }

  test("q121 moving MAD: element rules replayed; flag is integer-exact") {
    val out = Relational.defs("q121_moving_mad")(spark, TestSpark.sf0001)
      .collect()
    for ((_, rows) <- out.groupBy(_.getString(0))) {
      val ordered = rows.sortBy(_.getString(1))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val win = ordered.slice(math.max(0, i - 6), i + 1).map(_.getLong(2))
          .sorted
        val med = win((win.length + 1) / 2 - 1)
        val devs = win.map(v => math.abs(v - med)).sorted
        val mad = devs((devs.length + 1) / 2 - 1)
        assert(r.getLong(3) === med)
        assert(r.getLong(4) === mad)
        assert(r.getBoolean(5) === (math.abs(r.getLong(2) - med) > 3 * mad))
      }
    }
  }

  test("q122 drawdown == independent replay over the purchase equity curve") {
    val out = Relational.defs("q122_drawdown")(spark, TestSpark.sf0001)
      .collect()
    assert(out.length === 1)
    val r = out.head
    val daily = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .collect().map(x => (x.getString(0), x.getLong(1))).sortBy(_._1)
    var eq = 0L; var mark = 0L; var dd = 0L; var trough = ""
    var markAt = 0L; var eqAt = 0L
    daily.foreach { case (day, c) =>
      eq += c; if (eq > mark) mark = eq
      if (mark - eq > dd) { dd = mark - eq; trough = day; markAt = mark; eqAt = eq }
    }
    if (dd == 0) { trough = daily.head._1 } // all-ascending: rk-1 row is day 1
    assert(r.getLong(0) === daily.length.toLong)
    assert(r.getLong(2) === dd)
    if (dd > 0) {
      assert(r.getString(1) === trough)
      assert(r.getLong(3) === markAt && r.getLong(4) === eqAt)
    }
    assert(r.getLong(3) - r.getLong(4) === r.getLong(2))
  }

  test("dd_blocking_eval: count identities, live truth set, ratio bounds") {
    val r = graft.operators.Dedup.blockingEval(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect().head
    val (nDocs, bp, tp, caught) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(caught <= tp)
    assert(tp > 0, "the silver-standard truth set must be LIVE at sf0.001")
    val rec = r.getDouble(4)
    assert(rec >= 0.0 && rec <= 1.0)
    assert(math.abs(rec - caught.toDouble / tp) < 1e-15)
    val share = r.getDouble(5)
    assert(share > 0.0 && share < 1.0,
      "blocking must be a strict reduction over all-pairs")
    assert(bp <= nDocs * 4, "SNM candidates are linear in the corpus")
  }

  test("q123 gini == independent rank-moment replay; bounds hold") {
    val out = Relational.defs("q123_gini")(spark, TestSpark.sf0001).collect()
    val spend = Tables.load(spark, TestSpark.sf0001, "customer")
      .join(Tables.load(spark, TestSpark.sf0001, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
      .groupBy(_._1)
    assert(out.length === spend.size)
    out.foreach { r =>
      val xs = spend(r.getInt(0)).map(_._2).sorted
      val n = xs.length
      val sx = xs.map(BigInt(_)).sum
      val six = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val g = (BigDecimal(2 * six - BigInt(n + 1) * sx)
        / BigDecimal(BigInt(n) * sx)).toDouble
      assert(r.getLong(1) === n.toLong)
      assert(math.abs(r.getDouble(3) - g) < 1e-12)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
    }
  }

  test("q124 hhi: lower bound 1/n, upper bound top_share") {
    val out = Relational.defs("q124_hhi")(spark, TestSpark.sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1)
      val (hhi, top) = (r.getDouble(3), r.getDouble(4))
      assert(hhi >= 1.0 / n - 1e-12, "equal shares minimize HHI at 1/n")
      assert(hhi <= top + 1e-12, "sum(x^2) <= max(x) * sum(x)")
      assert(top <= 1.0 && hhi <= 1.0)
    }
  }

  test("q125 seasonality == independent lag-product replay") {
    val out = Relational.defs("q125_seasonality")(spark, TestSpark.sf0001)
      .collect()
    val daily = Tables.events(spark, TestSpark.sf0001)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    out.foreach { r =>
      val xs = daily(r.getString(0)).sortBy(_._2).map(_._3)
      def lagp(l: Int): Double =
        xs.indices.collect { case i if i + l < xs.length =>
          BigInt(xs(i)) * xs(i + l) }.sum.toDouble
      assert(r.getLong(1) === xs.length.toLong)
      assert(math.abs(r.getDouble(2) - lagp(0)) < 1e-6)
      Seq(1, 2, 3, 7).zipWithIndex.foreach { case (l, k) =>
        assert(math.abs(r.getDouble(3 + k) - lagp(l) / lagp(0)) < 1e-12,
          s"rho$l")
      }
    }
  }

  test("q126 lag features: lags, deltas, and trailing mean replayed") {
    val out = Relational.defs("q126_lag_features")(spark, TestSpark.sf0001)
      .collect()
    for ((_, rows) <- out.groupBy(_.getString(0))) {
      val ordered = rows.sortBy(_.getString(1))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val x = r.getLong(2)
        if (i == 0) assert(r.isNullAt(3) && r.isNullAt(5),
          "first row has no lag-1 or delta")
        else {
          assert(r.getLong(3) === ordered(i - 1).getLong(2), "lag1")
          assert(r.getLong(5) === x - ordered(i - 1).getLong(2), "delta1")
        }
        if (i < 7) assert(r.isNullAt(4), "lag7 absent in the first week")
        else assert(r.getLong(4) === ordered(i - 7).getLong(2), "lag7")
        val win = ordered.slice(math.max(0, i - 6), i + 1).map(_.getLong(2))
        assert(math.abs(r.getDouble(7) - win.sum.toDouble / win.length)
          < 1e-12, "trailing 7-day mean")
      }
    }
  }

  test("q127 spatial join == naive all-pairs replay over the derived grid") {
    import graft.functions.hashes.portableHash60
    val out = Relational.defs("q127_spatial_join")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pts = Tables.load(spark, TestSpark.sf0001, "customer")
      .select(col("c_custkey"),
        (portableHash60(concat(lit("gx:"), col("c_custkey").cast("string")))
          % 10000).as("x"),
        (portableHash60(concat(lit("gy:"), col("c_custkey").cast("string")))
          % 10000).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= 22500
    } yield (a._1, b._1) -> d2).toMap
    assert(out === want, "cell-banded join finds every pair exactly once")
    assert(want.nonEmpty, "proximity pairs exist at sf0.001")
  }

  test("q128 active users: panel invariants and first-day identity") {
    val rows = Relational.defs("q128_active_users")(spark, TestSpark.sf0001)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "WAU >= DAU")
      assert(r.getLong(3) <= r.getLong(1), "new users were active that day")
    }
    assert(rows.head.getLong(3) === rows.head.getLong(1),
      "every first-day active is new")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(4) === a.getLong(4) + b.getLong(3),
          "cumulative base accumulates exactly")
      case _ =>
    }
  }

  test("ta_rank_normalize: percentile bounds and per-source consistency") {
    val out = graft.operators.TextAnalysis.rankNormalize(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect()
    val bySrc = out.groupBy(_.getString(1))
    for ((_, rows) <- bySrc) {
      val n = rows.length
      rows.foreach { r =>
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
      }
      val minScore = rows.map(_.getInt(2)).min
      rows.filter(_.getInt(2) == minScore)
        .foreach(r => assert(r.getDouble(3) === 0.0,
          "the source minimum has nothing below it"))
      // identical scores calibrate identically; percentile is the exact
      // strictly-below share
      for ((_, g) <- rows.groupBy(_.getInt(2))) {
        assert(g.map(_.getDouble(3)).distinct.length === 1)
        val below = rows.count(_.getInt(2) < g.head.getInt(2))
        assert(math.abs(g.head.getDouble(3) - below.toDouble / n) < 1e-15)
      }
    }
  }

  test("q129 concurrency: session conservation across the hour grid") {
    val rows = Relational.defs("q129_concurrency")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    val (starts, ends) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    assert(starts === ends, "every session starts once and ends once")
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2) && r.getLong(1) >= r.getLong(3),
        "in-flight count includes the boundary sessions")
      assert(r.getLong(4) <= r.getLong(1), "users bounded by sessions")
      assert(r.getLong(4) >= 1L)
    }
    assert(rows.map(_.getLong(1)).sum >= starts,
      "hour-span counting covers every session at least once")
  }

  test("dd_dup_report: membership counts reconcile with the pair set") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val rows = graft.operators.Dedup.dupReport(docs).collect()
    val members = graft.operators.Dedup
      .ngramJaccardPairsViaLsh(docs, 0.5)
      .select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct().count()
    assert(rows.map(_.getLong(2)).sum === members,
      "per-source members sum to the distinct pair membership")
    assert(members > 0, "the verified pair set is live at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val share = r.getDouble(3)
      assert(share >= 0.0 && share <= 1.0)
      assert(math.abs(share - r.getLong(2).toDouble / r.getLong(1)) < 1e-15)
    }
  }

  test("q130 pareto: minimal 80% head replayed per nation") {
    val out = Relational.defs("q130_pareto")(spark, TestSpark.sf0001)
      .collect()
    val spend = Tables.load(spark, TestSpark.sf0001, "customer")
      .join(Tables.load(spark, TestSpark.sf0001, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    out.foreach { r =>
      val xs = spend(r.getInt(0)).sortBy(x => (-x._3, x._2)).map(_._3)
      val tot = xs.map(BigInt(_)).sum
      val cums = xs.scanLeft(BigInt(0))(_ + _).tail
      val k = cums.indexWhere(_ * 5 >= tot * 4) + 1
      assert(r.getLong(3) === k.toLong, s"nation ${r.getInt(0)} top_k")
      assert(r.getDouble(5) >= 0.8, "the head really covers 80%")
      if (k > 1)
        assert(cums(k - 2) * 5 < tot * 4, "top_k is MINIMAL")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("ann_recall: deterministic quality panel with the LSH floor") {
    val rows = graft.operators.Similarity.defs("ann_recall")(
      spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet === Set("ivf", "ivfpq", "lsh", "pq"))
    rows.values.foreach { case (caught, total, rec) =>
      assert(caught <= total && total > 0)
      assert(math.abs(rec - caught.toDouble / total) < 1e-15)
    }
    // the DedupSpec floors, now visible as exact published numbers
    assert(rows("lsh")._3 >= 0.7, "multi-probe LSH recall floor")
    assert(rows("ivf")._3 >= rows("ivfpq")._3,
      "adding PQ compression can only lose recall vs plain IVF")
  }

  test("q131 dup payments: tolerance and gap bounds; live pair set") {
    val rows = Relational.defs("q131_dup_payments")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty, "the 5% rule finds pairs at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(2), "canonical orderkey order")
      assert(r.getInt(5) >= 0 && r.getInt(5) <= 3)
      val (a, b) = (r.getLong(3), r.getLong(4))
      assert(math.abs(a - b) * 20 <= math.max(a, b),
        "amounts within the exact 5% tolerance")
    }
  }

  test("q134 ab test: md5 arm split replayed; z statistic reconciles") {
    val r = Relational.defs("q134_ab_test")(spark, TestSpark.sf0001)
      .collect().head
    val (n0, n1) = (r.getLong(0), r.getLong(1))
    val (c0, c1) = (r.getLong(2), r.getLong(3))
    // replay the whole panel driver-side from raw events
    val byUser = Tables.events(spark, TestSpark.sf0001)
      .select("user_id", "event_type").collect()
      .groupBy(_.getLong(0)).toSeq
      .map { case (u, evs) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"ab:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
        val arm = java.lang.Long.parseLong(hex.take(15), 16) % 2
        (arm, if (evs.count(_.getString(1) == "purchase") >= 14) 1L else 0L)
      }
    assert(n0 === byUser.count(_._1 == 0).toLong)
    assert(n1 === byUser.count(_._1 == 1).toLong)
    assert(c0 === byUser.filter(_._1 == 0).map(_._2).sum)
    assert(c1 === byUser.filter(_._1 == 1).map(_._2).sum)
    assert(n0 > 0 && n1 > 0, "both arms populated at sf0.001")
    val (p0, p1) = (c0.toDouble / n0, c1.toDouble / n1)
    assert(r.getDouble(4) === p0 && r.getDouble(5) === p1)
    assert(r.getDouble(6) === p1 - p0)
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    assert(math.abs(r.getDouble(7) - (p1 - p0) / se) < 1e-12)
  }

  test("q135 survival: conservation, monotonicity, terminal churn") {
    val rows = Relational.defs("q135_survival")(spark, TestSpark.sf0001)
      .collect().sortBy(_.getLong(0))
    val nUsers = Tables.events(spark, TestSpark.sf0001)
      .select("user_id").distinct().count()
    assert(rows.head.getLong(0) === 0L &&
      rows.head.getLong(1) === nUsers, "everyone at risk in week 0")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(0) === a.getLong(0) + 1, "gap-free weeks grid")
        assert(b.getLong(1) === a.getLong(1) - a.getLong(2),
          "at_risk(k+1) = at_risk(k) - churned(k)")
        assert(b.getDouble(4) <= a.getDouble(4) + 1e-15,
          "survival never increases")
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    val last = rows.last
    assert(last.getLong(1) === last.getLong(2),
      "at the maximum lifetime everyone remaining churns")
    assert(last.getDouble(4) === 0.0)
  }

  test("q136 holt: recurrence replayed driver-side; residuals reconcile") {
    val rows = Relational.defs("q136_holt")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val seq = g.sortBy(_.getString(1))
      var l = 0.0; var b = 0.0
      seq.zipWithIndex.foreach { case (r, i) =>
        val x = r.getLong(2)
        if (i == 0) {
          l = x.toDouble; b = 0.0
          assert(r.isNullAt(5) && r.isNullAt(6), "no forecast at t=0")
        } else {
          val f = l + b
          val l2 = 0.5 * x.toDouble + 0.5 * (l + b)
          val b2 = 0.5 * (l2 - l) + 0.5 * b
          l = l2; b = b2
          assert(r.getDouble(5) === f, "one-step forecast")
          assert(r.getDouble(6) === math.abs(x.toDouble - f))
        }
        assert(r.getDouble(3) === l && r.getDouble(4) === b,
          s"level/trend at ${r.getString(1)}")
      }
    }
  }

  test("q138 window funnel: depth monotonicity and a live window cut") {
    val r = Relational.defs("q138_window_funnel")(spark, TestSpark.sf0001)
      .collect().head
    val (n, v, vc, vcp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n >= v && v >= vc && vc >= vcp, "funnel depths are monotone")
    assert(vcp > 0, "full-depth conversions exist at sf0.001")
    assert(vcp < vc, "the 24h window genuinely cuts the last step")
    assert(r.getDouble(5) === vc.toDouble / v)
    assert(r.getDouble(6) === vcp.toDouble / vc)
  }

  test("q139 sax: segment partition reconciles; symbols match paa bands") {
    val rows = Relational.defs("q139_sax")(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    // segments partition each class's day count into runs of <= 7
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val segs = g.sortBy(_.getLong(1))
      assert(segs.map(_.getLong(1)).toSeq === segs.indices.map(_.toLong))
      segs.dropRight(1).foreach(r => assert(r.getLong(2) === 7L))
      assert(segs.last.getLong(2) <= 7L && segs.last.getLong(2) >= 1L)
    }
    rows.filter(r => !r.isNullAt(4)).foreach { r =>
      val (paa, sym) = (r.getDouble(4), r.getString(5))
      val want = if (paa < -0.6744897501960817) "a"
        else if (paa < 0.0) "b"
        else if (paa < 0.6744897501960817) "c" else "d"
      assert(sym === want)
    }
    // z-normalization: per class, the z numerators sum to zero exactly
    for ((_, g) <- rows.groupBy(_.getString(0)))
      assert(g.map(_.getLong(3)).sum === 0L, "Σ(n·x − Σx) = 0")
  }

  test("ta_textrank: rank floor, degree symmetry, stopword exclusion") {
    val rows = graft.operators.TextAnalysis.textrank(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect()
    assert(rows.nonEmpty)
    val stop = Set("the", "a", "of", "and", "to", "in")
    rows.foreach { r =>
      assert(!stop.contains(r.getString(0)), "stopwords never rank")
      assert(r.getLong(1) >= 1L, "every ranked word has an edge")
      // rank >= teleport share by construction (inflow is nonnegative)
      assert(r.getLong(2) > 0L)
    }
    // descending rank order with the word tiebreak
    val rs = rows.map(r => (r.getLong(2), r.getString(0)))
    rs.sliding(2).foreach {
      case Array((ra, wa), (rb, wb)) =>
        assert(ra > rb || (ra == rb && wa < wb))
      case _ =>
    }
  }

  test("q144 assortativity: moments replayed exactly; bipartite sign") {
    val r = Relational.defs("q144_assortativity")(spark, TestSpark.sf0001)
      .collect().head
    val edges = Tables.load(spark, TestSpark.sf0001, "orders")
      .join(Tables.load(spark, TestSpark.sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(x => (x.getLong(0), x.getLong(1)))
    val sym = edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val ds = sym.map { case (a, b) => (BigInt(deg(a)), BigInt(deg(b))) }
    val e = BigInt(ds.length)
    val (sx, sy) = (ds.map(_._1).sum, ds.map(_._2).sum)
    val sxy = ds.map { case (a, b) => a * b }.sum
    val sxx = ds.map(d => d._1 * d._1).sum
    assert(r.getLong(0) === ds.length.toLong)
    assert(r.getDouble(1) === (e * sxy - sx * sy).toDouble)
    assert(r.getDouble(2) === (e * sxx - sx * sx).toDouble)
    // the customer-supplier graph is bipartite: hubs link to leaves,
    // so assortativity must come out negative
    assert(r.getDouble(4) < 0.0)
  }

  test("q145 forecast eval: SAE replayed; winner flag cross-multiplies") {
    val rows = Relational.defs("q145_forecast_eval")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.map(_.getString(0)).toSet.size === rows.length)
    rows.foreach { r =>
      val (n1, sae1) = (r.getLong(2), r.getLong(3))
      val (n7, sae7) = (r.getLong(5), r.getLong(6))
      assert(n1 === r.getLong(1) - 1, "one lag-1 gap per class")
      assert(n7 === r.getLong(1) - 7, "seven lag-7 gaps per class")
      assert(r.getDouble(4) === sae1.toDouble / n1)
      assert(r.getDouble(7) === sae7.toDouble / n7)
      assert(r.getBoolean(8) === (sae7 * n1 < sae1 * n7))
    }
  }

  test("q146 ks test: supremum replayed driver-side; verdict consistent") {
    val r = Relational.defs("q146_ks_test")(spark, TestSpark.sf0001)
      .collect().head
    val (n1, n2, dn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // replay the exact-integer supremum from raw events
    val vals = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val clicks = vals.filter(_._1 == "click").map(_._2).sorted
    val purch = vals.filter(_._1 == "purchase").map(_._2).sorted
    assert(n1 === clicks.length.toLong && n2 === purch.length.toLong)
    val grid = (clicks ++ purch).distinct.sorted
    val want = grid.map { v =>
      val k1 = clicks.count(_ <= v).toLong
      val k2 = purch.count(_ <= v).toLong
      math.abs(k1 * n2 - k2 * n1)
    }.max
    assert(dn === want)
    assert(r.getDouble(3) === dn.toDouble / (n1 * n2))
    assert(r.getBoolean(5) === (r.getDouble(3) > r.getDouble(4)))
  }

  test("q147 fifo: conservation, FIFO order of allocation, tails") {
    val rows = Relational.defs("q147_fifo_allocation")(
      spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    var anyAlloc = false
    rows.foreach { r =>
      val (cred, deb) = (r.getLong(2), r.getLong(4))
      val matched = r.getLong(6)
      // the cumulative-interval identity: FIFO matches exactly
      // min(total credit, total debit) — nothing strands mid-queue
      assert(matched === math.min(cred, deb), s"user ${r.getLong(0)}")
      assert(r.getLong(7) === cred - matched)
      assert(r.getLong(8) === deb - matched)
      if (r.getLong(5) > 0) anyAlloc = true
    }
    assert(anyAlloc, "allocation pairs exist at sf0.001")
    // a hand-built FIFO: credits [5, 3], debits [4, 4] -> pairs
    // (c1,d1)=4, (c1,d2)=1, (c2,d2)=3; matched=8
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 1L, "purchase", 0.05), (1L, 200L, 2L, "purchase", 0.03),
      (1L, 300L, 3L, "click", 0.04), (1L, 400L, 4L, "click", 0.04))
      .toDF("user_id", "ts_ns", "event_id", "event_type", "value")
    // replay through the same interval construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val lots = ev.withColumn("cents",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("hi", sum(col("cents")).over(w))
      .withColumn("lo", col("hi") - col("cents"))
    val cr = lots.filter(col("event_type") === "purchase")
      .select(col("event_id").as("cid"), col("lo").as("a"), col("hi").as("b"))
    val db = lots.filter(col("event_type") === "click")
      .select(col("event_id").as("did"), col("lo").as("c"), col("hi").as("d"))
    val got = cr.crossJoin(db)
      .filter(col("a") < col("d") && col("c") < col("b"))
      .select(col("cid"), col("did"),
        (least(col("b"), col("d")) - greatest(col("a"), col("c"))).as("al"))
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(got === Map((1L, 3L) -> 4L, (1L, 4L) -> 1L, (2L, 4L) -> 3L))
  }

  test("q148 revenue recognition conserves cents exactly") {
    val out = Relational.defs("q148_rev_recognition")(spark, TestSpark.sf0001)
      .collect()
    assert(out.nonEmpty)
    val recognized = out.map(_.getLong(2)).sum
    // ground truth: every order with >= 1 lineitem recognizes its full
    // price — largest-remainder split must not create or lose a cent
    val want = Tables.load(spark, TestSpark.sf0001, "orders")
      .join(Tables.load(spark, TestSpark.sf0001, "lineitem")
        .select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long"))).head().getLong(0)
    assert(recognized === want, "cent conservation across the spread")
    // gap-free month ids within the span
    val ms = out.map(_.getLong(0))
    assert(ms.distinct.length === ms.length)
    out.foreach(r => assert(r.getLong(1) > 0))
  }

  test("src_evolution: merged read accounts for the droppped column") {
    val out = graft.sources.Sources.evolutionRoundTrip(
      spark, TestSpark.sf0001).collect()
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val n = docs.count()
    val split = (docs.agg(max("doc_id")).head().getLong(0) + 1) / 2
    val oldBatch = docs.filter(col("doc_id") >= split).count()
    assert(out.map(_.getLong(1)).sum === n, "no row lost in the merge")
    assert(out.map(_.getLong(2)).sum === oldBatch,
      "lang is NULL exactly for the old-producer batch")
    assert(out.map(_.getLong(2)).sum > 0, "the evolution branch is live")
  }

  test("emb_silhouette: bounds, argmin correctness, one driver replay") {
    val rows = graft.operators.Embeddings.silhouette(
      Tables.load(spark, TestSpark.sf0001, "embeddings")).collect()
    val nVec = Tables.load(spark, TestSpark.sf0001, "embeddings").count()
    assert(rows.length.toLong === nVec, "one verdict per vector")
    rows.foreach { r =>
      assert(r.getInt(1) !== r.getInt(3), "nearest OTHER is never own")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(4) >= 0.0)
      if (!r.isNullAt(5))
        assert(r.getDouble(5) >= -1.0 && r.getDouble(5) <= 1.0)
    }
    // replay one vector end-to-end: centroids from the library, then
    // distances/argmin/score by hand
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val cen = graft.operators.Embeddings.centroids(emb).collect()
      .groupBy(_.getInt(0))
      .map { case (l, g) =>
        l -> g.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    val v0 = emb.orderBy("vec_id").limit(1).collect().head
    val e0 = v0.getSeq[Float](1).map(_.toDouble).toArray
    def d2(c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < e0.length) {
        val y = (e0(i) - c(i)) * (e0(i) - c(i)); acc = acc + y; i += 1
      }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val own = d2(cen(v0.getInt(2)))
    val (bl, bd) = cen.filter(_._1 != v0.getInt(2))
      .map { case (l, c) => (l, d2(c)) }
      .minBy { case (l, dd) => (dd, l) }
    val r0 = rows.minBy(_.getLong(0))
    assert(r0.getDouble(2) === own)
    assert(r0.getInt(3) === bl && r0.getDouble(4) === bd)
    val want = BigDecimal((bd - own) / math.max(own, bd))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r0.getDouble(5) === want)
  }

  test("q150 holt-winters: nine-double recurrence replayed driver-side") {
    val rows = Relational.defs("q150_holt_winters")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val seq = g.sortBy(_.getString(1))
      var l = 0.0; var b = 0.0
      val s = new Array[Double](7)
      seq.zipWithIndex.foreach { case (r, i) =>
        val x = r.getLong(2)
        if (i == 0) {
          l = x.toDouble; b = 0.0
          assert(r.getDouble(5) === 0.0 && r.isNullAt(6) && r.isNullAt(7))
        } else {
          val slot = i % 7
          val sp = s(slot)
          val f = l + b + sp
          val l2 = 0.5 * (x.toDouble - sp) + 0.5 * (l + b)
          val b2 = 0.5 * (l2 - l) + 0.5 * b
          val s2 = 0.5 * (x.toDouble - l2) + 0.5 * sp
          l = l2; b = b2; s(slot) = s2
          assert(r.getDouble(6) === f && r.getDouble(5) === s2)
          assert(r.getDouble(7) === math.abs(x.toDouble - f))
        }
        assert(r.getDouble(3) === l && r.getDouble(4) === b)
      }
    }
  }

  test("q151 decayed ltv: exact dyadic weights; bounds; full replay") {
    val rows = Relational.defs("q151_decayed_ltv")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    // full replay from raw events with BigInt weights
    val p = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("d"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d1 = p.map(_._2).max
    val kmax = (d1 - p.map(_._2).min) / 7
    val byUser = p.groupBy(_._1)
    rows.foreach { r =>
      val g = byUser(r.getLong(0))
      assert(r.getLong(1) === g.length.toLong)
      assert(r.getLong(2) === g.map(_._3).sum)
      val wsum = g.map { case (_, d, c) =>
        BigInt(c) << (kmax - (d1 - d) / 7).toInt }.sum
      val want = wsum.toDouble / (BigInt(1) << kmax.toInt).toDouble
      assert(r.getDouble(3) === want)
      // decay can only shrink value, and never below raw/2^kmax
      assert(r.getDouble(3) <= r.getLong(2).toDouble)
      assert(r.getDouble(3) > 0.0)
    }
  }

  test("q149 bitemporal: purchase conservation and live restatements") {
    val rows = Relational.defs("q149_bitemporal")(spark, TestSpark.sf0001)
      .collect()
    val nPurch = Tables.events(spark, TestSpark.sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(2)).sum === nPurch,
      "every purchase lands in exactly one transition cell")
    rows.foreach { r =>
      assert((r.getLong(4) == 1L) ===
        (r.getString(0) != r.getString(1)), "restated flag == mismatch")
    }
    assert(rows.exists(_.getLong(4) == 1L),
      "the knowledge cut genuinely restates some verdicts at sf0.001")
    assert(rows.exists(_.getLong(4) == 0L), "and confirms others")
  }

  test("q140 prefix top-k: group caps, prefix containment, order") {
    val rows = Relational.defs("q140_prefix_topk")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    for ((p, g) <- rows.groupBy(_._1)) {
      assert(g.length <= 3, s"prefix '$p' has ${g.length} completions")
      g.foreach { case (_, w, _) => assert(w.startsWith(p)) }
    }
    // 1-char prefixes exist and are capped (the skewed groups)
    assert(rows.exists(_._1.length == 1))
    // a top-3 completion is never beaten by an excluded word: the
    // smallest published freq per prefix >= any other word's freq rank-4
    val freq = rows.filter(_._1.length == 1).groupBy(_._1)
    freq.foreach { case (_, g) => assert(g.map(_._3).distinct.nonEmpty) }
  }

  test("q141 rolling ols: moments reconcile against a driver replay") {
    val rows = Relational.defs("q141_rolling_ols")(spark, TestSpark.sf0001)
      .collect()
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      val seq = g.sortBy(_.getString(1))
      val ys = seq.map(_.getLong(2))
      seq.zipWithIndex.foreach { case (r, i) =>
        val lo = math.max(0, i - 13)
        val ts = (lo to i).map(j => (j + 1).toLong)
        val ws = (lo to i).map(ys)
        val n = ts.length.toLong
        assert(r.getLong(3) === n)
        val (st, sy) = (ts.sum, ws.sum)
        val sty = ts.zip(ws).map { case (a, b) => a * b }.sum
        val stt = ts.map(t => t * t).sum
        assert(r.getLong(4) === n * sty - st * sy, s"num at row $i")
        assert(r.getLong(5) === n * stt - st * st, s"den at row $i")
        if (n > 1)
          assert(r.getDouble(6) ===
            (n * sty - st * sy).toDouble / (n * stt - st * st))
        else assert(r.isNullAt(6))
      }
    }
  }

  test("q142 time to convert: quantile ordering and share bounds") {
    val r = Relational.defs("q142_time_to_convert")(spark, TestSpark.sf0001)
      .collect().head
    val (n, c) = (r.getLong(0), r.getLong(1))
    assert(c > 0 && c <= n)
    assert(r.getDouble(2) === c.toDouble / n)
    val (mn, p25, med, p75, mx) = (r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7))
    assert(mn <= p25 && p25 <= med && med <= p75 && p75 <= mx)
    assert(mn >= 0, "first purchase at-or-after first view by construction")
  }

  test("AsOfJoin FORWARD equals the window formulation on adversarial data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    // users: 1 = normal; 2 = clicks only BEFORE its purchase (forward
    // unmatched); 3 = no clicks; 4 = two clicks at the SAME future time
    // (tie by id) + a click exactly AT the purchase time (inclusive)
    val clicks = Seq(
      (1L, 10L, 300L), (1L, 11L, 400L), (1L, 12L, 200L),
      (2L, 20L, 100L),
      (4L, 40L, 500L), (4L, 41L, 900L), (4L, 42L, 900L))
      .toDF("c_user", "click_id", "c_ts").repartition(5)
    val purchases = Seq(
      (1L, 100L, 250L), (1L, 101L, 400L),
      (2L, 200L, 500L), (3L, 300L, 500L), (4L, 400L, 500L),
      (4L, 401L, 600L))
      .toDF("user_id", "purchase_id", "ts_ns").repartition(3)
    val native = graft.plans.AsOfJoin.asOf(purchases, clicks,
        "user_id", "c_user", "ts_ns", "c_ts", Seq("click_id"),
        forward = true)
      .select("purchase_id", "user_id", "click_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // window oracle: per purchase, the first (c_ts, click_id) >= ts_ns
    val want = purchases.join(clicks,
        col("user_id") === col("c_user") && col("c_ts") >= col("ts_ns"),
        "left_outer")
      .withColumn("rn", row_number().over(
        W.partitionBy("purchase_id").orderBy(
          col("c_ts").asc_nulls_last, col("click_id").asc_nulls_last)))
      .filter(col("rn") === 1)
      .select("purchase_id", "user_id", "click_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(native === want)
    val byP = native.map(t => t._1 -> t._3).toMap
    assert(byP(100L) === 10L, "next click after 250 is ts=300")
    assert(byP(101L) === 11L, "inclusive boundary: click AT 400 matches")
    assert(byP(200L) === -1L, "clicks only before: unmatched")
    assert(byP(300L) === -1L, "no clicks: unmatched")
    assert(byP(400L) === 40L)
    assert(byP(401L) === 41L, "same-time clicks tie-broken by id")
  }

  test("Sessionize equals the two-window formulation on adversarial data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    // single-event users, a gap EXACTLY at the threshold (no split),
    // one past it (split), nulls in the gap column (lag semantics: a
    // null never opens a gap and never stands in for an older value),
    // and interleaved keys across partitions
    val rows = Seq(
      (1L, 10L, Some(0L)), (1L, 11L, Some(100L)), // gap 100 == thr: same
      (1L, 12L, Some(201L)),                      // gap 101 > thr: split
      (2L, 20L, Some(5L)),                        // singleton user
      (3L, 30L, Some(0L)), (3L, 31L, None),       // null: no split
      (3L, 32L, Some(500L)),                      // prev null: no split
      (3L, 33L, Some(601L)), (3L, 34L, Some(702L)), // 101>thr twice
      (4L, 40L, None), (4L, 41L, None))           // all-null user
    val df = rows.map { case (u, id, g) => (u, id, g.map(Long.box).orNull) }
      .toDF("user_id", "event_id", "ts_ns")
      .select(col("user_id"), col("event_id"), col("ts_ns").cast("long"))
      .repartition(7)
    val native = graft.plans.Sessionize
      .assign(df, "user_id", Seq("event_id"), "ts_ns", gap = 100L)
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = W.partitionBy("user_id").orderBy("event_id")
    val want = df
      .withColumn("is_new",
        when(col("ts_ns") - lag(col("ts_ns"), 1).over(w) > 100L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(W.unboundedPreceding, 0)))
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native === want)
    // the splits land exactly where designed
    val byId = native.map(t => t._2 -> t._3).toMap
    assert(byId(10L) === 0L && byId(11L) === 0L && byId(12L) === 1L)
    assert(byId(20L) === 0L)
    assert(byId(30L) === 0L && byId(31L) === 0L && byId(32L) === 0L &&
      byId(33L) === 1L && byId(34L) === 2L)
    assert(byId(40L) === 0L && byId(41L) === 0L)
    // empty input: empty result, schema carries session_id
    val none = graft.plans.Sessionize
      .assign(df.filter(lit(false)), "user_id", Seq("event_id"), "ts_ns", 1L)
    assert(none.count() === 0)
    assert(none.columns.toSeq ===
      Seq("user_id", "event_id", "ts_ns", "session_id"))
    // non-long gap column refuses loudly
    val e = intercept[RuntimeException] {
      graft.plans.Sessionize.assign(
        df.withColumn("s", col("ts_ns").cast("string")),
        "user_id", Seq("event_id"), "s", 1L)
    }
    assert(e.getMessage.contains("must be LongType"))
  }

  test("ta_langid_eval: confusion matrix reconciles; shares sum to one") {
    val rows = graft.operators.TextAnalysis.langIdEval(
      Tables.load(spark, TestSpark.sf0001, "documents")).collect()
    val n = Tables.load(spark, TestSpark.sf0001, "documents").count()
    assert(rows.map(_.getLong(2)).sum === n, "every doc lands in one cell")
    for ((_, g) <- rows.groupBy(_.getString(0))) {
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-9,
        "per-actual shares sum to 1")
      assert(g.map(_.getLong(3)).distinct.length === 1)
      assert(g.head.getLong(3) === g.map(_.getLong(2)).sum)
    }
    rows.foreach(r =>
      assert(r.getBoolean(5) === (r.getString(0) == r.getString(1))))
  }

  test("AsOfJoin equals the window formulation on adversarial data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    // users: 1 = normal history; 2 = clicks only AFTER its purchase;
    // 3 = no clicks at all; 4 = two clicks at the SAME time (tie by id)
    // + a click exactly AT the purchase time (inclusive boundary)
    val clicks = Seq(
      (1L, 10L, 100L), (1L, 11L, 200L), (1L, 12L, 300L),
      (2L, 20L, 900L),
      (4L, 40L, 100L), (4L, 41L, 100L), (4L, 42L, 500L))
      .toDF("c_user", "click_id", "c_ts").repartition(5)
    val purchases = Seq(
      (1L, 100L, 250L), (1L, 101L, 300L),
      (2L, 200L, 500L), (3L, 300L, 500L), (4L, 400L, 500L),
      (4L, 401L, 100L))
      .toDF("user_id", "purchase_id", "ts_ns").repartition(3)
    val native = graft.plans.AsOfJoin.asOf(purchases, clicks,
        "user_id", "c_user", "ts_ns", "c_ts", Seq("click_id"))
      .select("purchase_id", "user_id", "click_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(native === Set(
      (100L, 1L, 11L), // last click at-or-before 250 is ts 200
      (101L, 1L, 12L), // inclusive: the click AT 300 wins
      (200L, 2L, -1L), // click exists but only later -> null
      (300L, 3L, -1L), // no clicks at all -> null
      (400L, 4L, 42L), // latest click wins over the same-ts pair
      (401L, 4L, 41L)), // same-ts tie -> greatest click_id
      s"got $native")
    // and the window formulation agrees row-for-row
    val tagged = clicks.select(col("c_user").as("user_id"),
        col("click_id").as("event_id"), col("c_ts").as("ts_ns"),
        lit(0).as("is_purchase"))
      .unionByName(purchases.select(col("user_id"),
        col("purchase_id").as("event_id"), col("ts_ns"),
        lit(1).as("is_purchase")))
    val w = W.partitionBy("user_id")
      .orderBy(col("ts_ns"), col("is_purchase"), col("event_id"))
      .rowsBetween(W.unboundedPreceding, 0)
    val windowed = tagged
      .withColumn("click_id", last(when(col("is_purchase") === 0,
        col("event_id")), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("event_id"), col("user_id"), col("click_id"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(windowed === native)
  }

  test("q113 FD audit: key-led FDs hold; verdict is consistent with counts") {
    val rows = Relational.defs("q113_fd_audit")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.length === 6)
    val byFd = rows.map(r => r.getString(0) -> r).toMap
    // a primary key determines everything
    assert(byFd("nation:n_nationkey->n_regionkey").getBoolean(4))
    rows.foreach { r =>
      val (nLhs, nPairs, nViol, holds) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(nPairs >= nLhs)
      assert(holds === (nViol === 0L), s"${r.getString(0)} verdict")
      assert(holds === (nPairs === nLhs), s"${r.getString(0)} pair identity")
    }
  }

  test("AUC: perfect separation is 1e12, reversal 0, all-tied 5e11, and " +
      "a hand-computed mixed grid matches") {
    def auc(counts: Seq[(Long, String, Long)]): Map[String, Long] =
      Relational.aucFromCounts(counts.toDF("cents", "event_type", "n"))
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // class a entirely above class b: a is a perfect score (AUC 1),
    // b a perfectly reversed one (AUC 0)
    val sep = auc(Seq((10L, "a", 5L), (1L, "b", 5L)))
    assert(sep("a") === 1000000000000L)
    assert(sep("b") === 0L)
    // every observation at one score: all pairs tied, AUC exactly 1/2
    val tied = auc(Seq((5L, "a", 3L), (5L, "b", 7L)))
    assert(tied("a") === 500000000000L)
    assert(tied("b") === 500000000000L)
    // hand-computed: a = {1:1, 4:3}, b = {2:2}. For a: pos=4, neg=2;
    // concordant = 1*0 + 3*2 = 6, no ties -> 6/(4*2) = 0.75
    val mixed = auc(Seq((1L, "a", 1L), (4L, "a", 3L), (2L, "b", 2L)))
    assert(mixed("a") === 750000000000L)
    // b's positives (2 at cents 2) beat the 1 at cents 1, lose to the
    // 3 at cents 4: 2*1/(2*4) = 0.25
    assert(mixed("b") === 250000000000L)
  }

  test("chi2 feature selection: hand-computed contingency on a planted " +
      "corpus; an everywhere-word is filtered, not NULL-ranked") {
    // N=10: en docs 1-6, fr docs 7-10. "bonjour" in 1 en + all 4 fr
    // (tf=5); "neutre" in 3 en + 2 fr (tf=5, exactly proportional ->
    // chi2 = 0); "the" in all 10 (tf=N -> zero information, filtered)
    val docs = Seq(
      (1L, "the bonjour neutre", "en"), (2L, "the neutre", "en"),
      (3L, "the neutre", "en"), (4L, "the", "en"),
      (5L, "the", "en"), (6L, "the", "en"),
      (7L, "the bonjour neutre", "fr"), (8L, "the bonjour neutre", "fr"),
      (9L, "the bonjour", "fr"), (10L, "the bonjour", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextAnalysis.chi2Terms(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // bonjour: |aN - tf*ld| = 20 for both classes; chi2 = 10*400/600 =
    // 6.6667 -> pico 6666666666666. neutre: aN - tf*ld = 0 -> 0.
    assert(got.toSeq === Seq(
      ("bonjour", "en", 1L, 5L, 6L, 10L, 6666666666666L),
      ("bonjour", "fr", 4L, 5L, 4L, 10L, 6666666666666L),
      ("neutre", "en", 3L, 5L, 6L, 10L, 0L),
      ("neutre", "fr", 2L, 5L, 4L, 10L, 0L)))
  }

  test("Cohen's kappa: the textbook 2x2 matrix gives 0.4; perfect " +
      "agreement 1; a degenerate single class has NULL kappa") {
    def kappa(rows: Seq[(String, String, Long)]) =
      graft.operators.TextAnalysis.kappaFromConfusion(
        rows.toDF("lang_actual", "lang_pred", "n")).head()
    // N=100, agree=70, row=(50,50), col=(60,40) -> pe_num=5000,
    // num=2000, den=5000, kappa=0.4, acc=700000
    val r = kappa(Seq(("a", "a", 40L), ("a", "b", 10L),
      ("b", "a", 20L), ("b", "b", 30L)))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) === (100L, 70L, 700000L, 2000L,
      5000L, 0.4))
    // perfect agreement over two classes: num = den > 0 -> kappa 1
    val p = kappa(Seq(("a", "a", 5L), ("b", "b", 5L)))
    assert(p.getDouble(5) === 1.0)
    // single class everywhere: pe = N^2 -> den 0 -> kappa NULL
    val d = kappa(Seq(("a", "a", 7L)))
    assert(d.isNullAt(5) && d.getLong(2) === 1000000L)
  }

  test("Spearman: agreement is +1, reversal -1, one adjacent swap 0.8 " +
      "on planted rankings") {
    // nation 0: spend and frequency rank identically (rho = 1).
    // nation 1: exactly reversed (rho = -1). nation 2: one adjacent
    // swap -> sum d^2 = 2, rho = 1 - 12/60 = 0.8. n=4 -> den = 60.
    def rows(nation: Long, freqs: Seq[Long]) =
      freqs.zipWithIndex.map { case (f, i) =>
        (nation, (i + 1).toLong, (i + 1) * 100L, f)
      }
    val per = (rows(0L, Seq(1L, 2L, 3L, 4L)) ++
      rows(1L, Seq(4L, 3L, 2L, 1L)) ++ rows(2L, Seq(2L, 1L, 3L, 4L)))
      .toDF("c_nationkey", "o_custkey", "spend", "n_orders")
    val got = Relational.spearmanFromMetrics(per).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === Seq(
      (0L, 4L, 60L, 60L, 1.0),
      (1L, 4L, -60L, 60L, -1.0),
      (2L, 4L, 48L, 60L, 0.8)))
  }

  test("PR curve: hand-computed sweep on a planted score grid") {
    // grid: 10c (4 rows, 1 pos), 55c (2 rows, 2 pos), 100c (4 rows,
    // 3 pos). lo=10, hi=100 -> thresholds 19,28,37,46,55,64,73,82,91.
    // t <= 55: tp=5 of p_pred=6, pos_all=6; t > 55: tp=3 of p_pred=4.
    val grid = Seq((10L, 4L, 1L), (55L, 2L, 2L), (100L, 4L, 3L))
      .toDF("cents", "tot", "pos")
    val got = Relational.prCurveFromGrid(grid).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val lowT = (5L, 1L, 1L, 833333L, 833333L, 833333L)
    val highT = (3L, 1L, 3L, 750000L, 500000L, 600000L)
    val want = Seq(1L -> 19L, 2L -> 28L, 3L -> 37L, 4L -> 46L, 5L -> 55L,
      6L -> 64L, 7L -> 73L, 8L -> 82L, 9L -> 91L).map { case (d, t) =>
      val (tp, fp, fn, p, rc, f1) = if (t <= 55L) lowT else highT
      (d, t, tp, fp, fn, p, rc, f1)
    }
    assert(got.toSeq === want)
  }

  test("clustering coefficient: hand-computed values on a planted " +
      "triangle with a pendant; degree-1 nodes are excluded") {
    // triangle 1-2-3 plus pendant 4 attached to 1. deg(1)=3 -> C =
    // 2*1/(3*2) = 1/3; deg(2)=deg(3)=2 -> C = 1; deg(4)=1 -> excluded
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("a", "b")
    val got = Relational.clusteringFromEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (2L, 2L, 1L, 1000000000000L),
      (3L, 2L, 1L, 1000000000000L),
      (1L, 3L, 1L, 333333333333L)))
  }

  test("closeness: hand-computed centralities on a planted path graph " +
      "plus a disconnected pair") {
    // path 0-1-2-3 plus the isolated edge 8-9; undirected = both
    // directions materialized, same as tradeEdges
    val half = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.closenessFromEdges(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // n = 6. Ends of the path: r=3, sum=1+2+3=6 -> 1e12*9/(5*6)
    // Middle of the path: r=3, sum=1+1+2=4 -> 1e12*9/(5*4)
    // Isolated pair: r=1, sum=1 -> 1e12*1/(5*1)
    val want = Set(
      ("customer", 0L, 3L, 6L, 300000000000L),  // node 0
      ("customer", 1L, 3L, 4L, 450000000000L),  // node 2
      ("customer", 4L, 1L, 1L, 200000000000L),  // node 8
      ("supplier", 0L, 3L, 4L, 450000000000L),  // node 1
      ("supplier", 1L, 3L, 6L, 300000000000L),  // node 3
      ("supplier", 4L, 1L, 1L, 200000000000L))  // node 9
    assert(got === want)
  }

  test("wilson interval: differential vs a scalar double replay; " +
      "extremes stay ordered and bounded") {
    val counts = Seq(("a", 8L, 10L), ("b", 0L, 7L), ("c", 7L, 7L),
      ("d", 3000L, 4000L)).toDF("event_type", "x", "n")
    val got = Relational.wilsonFromCounts(counts).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // independent scalar replay of the identical expression tree
    def wilson(x: Long, n: Long): (Double, Double, Double) = {
      val xd = x.toDouble; val nd = n.toDouble
      val phat = xd / nd
      val den = 1.0 + 3.8416 / nd
      val center = phat + 3.8416 / (nd * 2.0)
      val rad = 1.96 * math.sqrt(
        (phat * (1.0 - phat) + 3.8416 / (nd * 4.0)) / nd)
      (phat, (center - rad) / den, (center + rad) / den)
    }
    for ((k, x, n) <- Seq(("a", 8L, 10L), ("b", 0L, 7L), ("c", 7L, 7L),
      ("d", 3000L, 4000L))) {
      assert(got(k) === wilson(x, n), s"class $k")
      val (p, lo, hi) = got(k)
      assert(lo <= p && p <= hi && lo >= -1e-12 && hi <= 1.0 + 1e-12)
    }
    // more evidence -> tighter interval at the same phat (8/10 vs
    // 3000/4000 ~ same rate, wildly different n)
    assert(got("d")._3 - got("d")._2 < got("a")._3 - got("a")._2)
  }

  test("ppr: differential vs a driver integer replay on a planted path; " +
      "mass localizes near the seeds") {
    // path 0-1-2-...-11 undirected; seeds are the 8 lowest ids (0..7)
    val half = (0L to 10L).map(i => (i, i + 1))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.pprFromEdges(edges).collect()
      .map { r =>
        val id = r.getLong(1) * 2 + (if (r.getString(0) == "supplier") 1 else 0)
        id -> r.getLong(2)
      }.toMap
    // independent replay of the identical integer recurrence
    val adj = (half ++ half.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    val nodes = adj.keys.toSeq.sorted
    val seeds = nodes.take(8).toSet
    val tele = (1000000000L * 15L / 100L) / 8L
    var rank = nodes.map(n =>
      n -> (if (seeds(n)) 1000000000L / 8L else 0L)).toMap
    for (_ <- 0 until 5) {
      val inflow = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (n <- nodes; if rank(n) > 0; m <- adj(n))
        inflow(m) += rank(n) / deg(n)
      rank = nodes.map(n =>
        n -> ((if (seeds(n)) tele else 0L) + 85L * inflow(n) / 100L)).toMap
    }
    assert(got === rank.filter(_._2 > 0))
    // locality: the node adjacent to the seed set outranks the far end
    assert(got(8L) > got.getOrElse(11L, 0L))
  }

  test("calibration: hand-computed buckets on a planted unit grid; " +
      "constant corpus publishes NULL prediction") {
    // cents 0..9 one row each, positives at cents >= 5: lo=0, hi=9,
    // bucket = (c*10) div 10 = c, pred = (c*1e6) div 9, obs = pos*1e6
    val ev = (0L to 9L).map(c => (c, if (c >= 5) 1L else 0L))
      .toDF("cents", "pos")
    val got = Relational.calibrationFromScored(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    for (c <- 0L to 9L)
      assert(got(c) === (c * 1000000L / 9L, if (c >= 5) 1000000L else 0L))

    val const = Seq((42L, 1L), (42L, 0L)).toDF("cents", "pos")
    val cg = Relational.calibrationFromScored(const).collect()
    assert(cg.length == 1 && cg(0).isNullAt(3) &&
      cg(0).getLong(4) == 500000L)
  }

  test("community LPA: two planted triangles joined by a bridge split " +
      "into two blocs; modularity terms hand-computed") {
    // triangles {0,1,2} and {3,4,5}, bridge 2-3. Synchronous LPA with
    // self-vote: round 1 all-distinct votes tie to the min label
    // ([0,0,0,2,3,3]), round 2 pluralities settle [0,0,0,3,3,3], stable.
    // m2 = 14 directed edges. Each bloc: d_c = 7, e_c = 6 ->
    // q_num = 6*14 - 49 = 35, q_den = 196 (Q = 2*35/196 ~ 0.357).
    val half = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.communityFromEdges(edges).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got === Map(
      0L -> (3L, 6L, 7L, 35L, 196L),
      3L -> (3L, 6L, 7L, 35L, 196L)))
  }

  test("hop plot: per-seed distance histogram and eccentricity on a " +
      "planted path") {
    // path 0-1-2: seeds are all three nodes. Seed 0: one node at each
    // of hops 0,1,2 (ecc 2); seed 1: itself + two at hop 1 (ecc 1).
    val half = Seq((0L, 1L), (1L, 2L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val (visited, _) = Relational.multiSourceBfsForSpec(edges)
    val got = visited.groupBy("seed", "dist")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 2L,
      (2L, 0L) -> 1L, (2L, 1L) -> 1L, (2L, 2L) -> 1L))
  }

  test("kmv set ops: under-filled sketches publish exact set algebra; " +
      "a tight k degrades to the estimator branch") {
    // A = {1..6}, B = {4..9}: inter 3, union 9 — with k=64 both
    // sketches hold everything, so every column is EXACT
    val ev = ((1L to 6L).map(h => ("a", h)) ++ (4L to 9L).map(h => ("b", h)))
      .toDF("event_type", "h")
    val r = Relational.kmvSetopsFromSets(ev).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(2) == 6L && row.getLong(3) == 6L)   // n_a, n_b
    assert(row.getLong(4) == 3L && row.getLong(5) == 9L)   // inter, union
    assert(row.getLong(6) == 9L)                           // n_u
    assert(row.getDouble(8) == 9.0)                        // est exact
    assert(row.getLong(9) == 3L)                           // matches
    assert(row.getLong(10) == 333333L)                     // 3e6 div 9
    assert(row.getDouble(11) == 3.0)                       // inter_est
    // k=4 < union: the estimator branch runs — merged bottom-4 of the
    // unit-spaced hashes is {1,2,3,4}, kth=4, est = 3*2^60/4
    val t = Relational.kmvSetopsFromSets(ev, k = 4).collect()(0)
    assert(t.getLong(6) == 4L && t.getLong(7) == 4L)
    assert(t.getDouble(8) == 3.0 * 1152921504606846976L.toDouble / 4.0)
  }

  test("isotonic minimax == hand-run PAV on a planted violation; " +
      "monotone output; already-monotone input passes through") {
    // 4 occupied buckets with rates [0.2, 0.5, 0.3, 0.8] (10 rows each;
    // cents 0..3 span -> buckets 0,2,5,7). PAV pools the 0.5/0.3
    // violator to 8/20 = 0.4: iso = [0.2, 0.4, 0.4, 0.8]. The minimax
    // values were hand-verified cell by cell (e.g. bucket 2:
    // max(min(350000,333333,450000), min(500000,400000,533333))
    // = max(333333, 400000) = 400000).
    val rates = Seq(0L -> 2, 1L -> 5, 2L -> 3, 3L -> 8)
    val ev = rates.flatMap { case (c, p) =>
      (0 until 10).map(i => (c, if (i < p) 1L else 0L))
    }.toDF("cents", "pos")
    val got = Relational.isotonicFromScored(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getInt(5))).toMap
    assert(got === Map(
      0L -> (200000L, 0), 2L -> (400000L, 1),
      5L -> (400000L, 1), 7L -> (800000L, 0)))
    // monotone input is a fixpoint: iso == obs everywhere
    val mono = Seq(0L -> 1, 1L -> 4, 2L -> 6, 3L -> 9).flatMap {
      case (c, p) => (0 until 10).map(i => (c, if (i < p) 1L else 0L))
    }.toDF("cents", "pos")
    val m = Relational.isotonicFromScored(mono).collect()
    assert(m.forall(r => r.getLong(3) == r.getLong(4) && r.getInt(5) == 0))
    // output is always non-decreasing in bucket order
    val isoSeq = Relational.isotonicFromScored(ev)
      .orderBy("bucket").collect().map(_.getLong(4)).toSeq
    assert(isoSeq == isoSeq.sorted)
  }

  test("ab z-test: differential vs a scalar replay; equal rates give " +
      "z = 0 and no significance") {
    val wk = Relational.defs("q173_ab_test")(spark, TestSpark.sf0001)
      .collect()
    assert(wk.nonEmpty)
    def zOf(x1: Long, n1: Long, x2: Long, n2: Long): Double = {
      val p1 = x1.toDouble / n1.toDouble
      val p2 = x2.toDouble / n2.toDouble
      val pp = (x1 + x2).toDouble / (n1 + n2).toDouble
      (p1 - p2) / math.sqrt(pp * (1.0 - pp) *
        (1.0 / n1.toDouble + 1.0 / n2.toDouble))
    }
    wk.foreach { r =>
      val want = zOf(r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
      assert(r.getDouble(6) == want)
      assert(r.getInt(7) == (if (math.abs(want) > 1.96) 1 else 0))
    }
  }

  test("hapax profile: hand-counted vocabulary on a planted corpus") {
    // 'a' appears 3x, 'bb' 2x, 'cc' 1x, 'dd' 1x -> tokens 7, vocab 4,
    // hapax 2, dis 1; ratios 2e6 div 4 and 4e6 div 7
    val docs = Seq((1L, "a bb a", "en"), (2L, "a bb cc dd", "en"))
      .toDF("doc_id", "text", "lang")
    val r = graft.operators.TextAnalysis.hapaxProfile(docs).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((7L, 4L, 2L, 1L, 500000L, 571428L)))
  }

  test("k-truss: K4 plus a pendant triangle — the triangle peels, " +
      "K4 survives with support 2; a pure triangle dies entirely") {
    // K4 on {0,1,2,3}: every edge in 2 triangles -> survives 4-truss.
    // Pendant triangle {3,4,5}: its edges have support 1 -> peeled in
    // round 1 (and their removal doesn't touch K4's supports).
    val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val tri = Seq((3L, 4L), (3L, 5L), (4L, 5L))
    val edges = (k4 ++ tri).toDF("a", "b")
    val got = Relational.trussFromEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === k4.toSet)
    assert(got.values.forall(_ == 2L))
    // a lone triangle has no 4-truss at all (supports are 1 everywhere)
    val lone = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("a", "b")
    assert(Relational.trussFromEdges(lone).collect().isEmpty)
  }

  test("katz centrality: hand-counted walks on a planted path graph") {
    // path 0-1-2 undirected. Walk counts from the all-ones start:
    // w1 = [1,2,1], w2 = [2,2,2], w3 = [2,4,2], w4 = [4,4,4];
    // katz_scaled = 64*w1 + 16*w2 + 4*w3 + w4
    val half = Seq((0L, 1L), (1L, 2L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.katzFromEdges(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      ("customer", 0L, 108L),  // node 0: 64+32+8+4
      ("supplier", 0L, 180L),  // node 1: 128+32+16+4
      ("customer", 1L, 108L))  // node 2
    assert(got === want)
  }

  test("betweenness: hand-computed seeded Brandes on a planted diamond " +
      "with a tail; path-count splits floor at pico grain") {
    // diamond 0-1-3 / 0-2-3 plus tail 3-4, undirected; 5 nodes, so all
    // are seeds. Hand-run of the floor recurrence
    // delta(v) = sum_w floor(sigma_v * (1e12 + delta_w) / sigma_w):
    //   seed 0: delta(1)=delta(2)=delta(3)=1e12
    //   seed 1: delta(0)=5e11 (sigma split 1/2), delta(3)=1.5e12
    //   seed 2: symmetric to seed 1
    //   seed 3: delta(1)=delta(2)=5e11
    //   seed 4: delta(3)=3e12, delta(1)=delta(2)=5e11
    // totals: node0 1e12, node1 2e12, node2 2e12, node3 7e12, node4 0
    val half = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.brandesFromEdges(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      ("customer", 0L, 1000000000000L),  // node 0
      ("supplier", 0L, 2000000000000L),  // node 1
      ("customer", 1L, 2000000000000L),  // node 2
      ("supplier", 1L, 7000000000000L))  // node 3; node 4 dropped (0)
    assert(got === want)
  }

  test("harmonic centrality: hand-computed on the same planted graph; " +
      "disconnection degrades gracefully") {
    // same path 0-1-2-3 + isolated edge 8-9 as the closeness spec; n=6.
    // Path end (0): 1/1+1/2+1/3 -> 1e12 + 5e11 + 333333333333;
    // path middle (1): 1/1+1/1+1/2 -> 2.5e12; isolated (8): 1/1 -> 1e12.
    // Unreachable nodes contribute ZERO terms (never poison the sum).
    val half = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val got = Relational.harmonicFromEdges(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = Set(
      ("customer", 0L, 3L, 1833333333333L, 366666666666L), // node 0
      ("customer", 1L, 3L, 2500000000000L, 500000000000L), // node 2
      ("customer", 4L, 1L, 1000000000000L, 200000000000L), // node 8
      ("supplier", 0L, 3L, 2500000000000L, 500000000000L), // node 1
      ("supplier", 1L, 3L, 1833333333333L, 366666666666L), // node 3
      ("supplier", 4L, 1L, 1000000000000L, 200000000000L)) // node 9
    assert(got === want)
  }

  test("random walks: a forced cycle walks deterministically; free " +
      "walks stay on edges, have full shape, and are reproducible") {
    // directed 3-cycle 0 -> 1 -> 2 -> 0: every node has out-degree 1,
    // so every hash pick is mod 1 = 0 and the walk is FORCED — exact
    // expected output with no hash replay needed
    val cyc = Seq((0L, 2L), (2L, 5L), (5L, 0L)).toDF("src", "dst")
    val gotCyc = Relational.randomWalksFromEdges(cyc, walksPerNode = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getLong(5)))
    // seed 0 (customer 0): 0,2,5,0,2; seed 2 (customer 1): 2,5,0,2,5;
    // seed 5 (supplier 2): 5,0,2,5,0
    def t(n: Long) = if (n % 2 == 0) "customer" else "supplier"
    val wantCyc = for {
      (seed, path) <- Seq(0L -> Seq(0L, 2L, 5L, 0L, 2L),
        2L -> Seq(2L, 5L, 0L, 2L, 5L), 5L -> Seq(5L, 0L, 2L, 5L, 0L))
      (v, k) <- path.zipWithIndex
    } yield (t(seed), seed / 2, 0, k, t(v), v / 2)
    assert(gotCyc.toSeq === wantCyc)

    // free graph: structural invariants + reproducibility
    val half = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val w1 = Relational.randomWalksFromEdges(edges).collect()
    val w2 = Relational.randomWalksFromEdges(edges).collect()
    assert(w1.toSeq === w2.toSeq, "walks are not reproducible")
    // 4 nodes x 2 walks x 5 positions
    assert(w1.length === 40)
    val edgeSet = half.flatMap(e => Seq(e, e.swap)).toSet
    def nid(t: String, i: Long) = if (t == "customer") i * 2 else i * 2 + 1
    val byWalk = w1.map(r => ((r.getString(0), r.getLong(1), r.getInt(2)),
        (r.getInt(3), nid(r.getString(4), r.getLong(5)))))
      .groupBy(_._1).values
    byWalk.foreach { steps =>
      val path = steps.map(_._2).sortBy(_._1).map(_._2)
      path.sliding(2).foreach { p =>
        assert(edgeSet.contains((p(0), p(1))),
          s"walk left the graph: ${path.mkString("->")}")
      }
    }
  }

  test("mnn pairs: planted two-set geometry emits exactly the mutual " +
      "top-1 pairs with the right runner-up margins") {
    import graft.operators.Similarity
    // max |x| = 127 makes the int8 codes equal the raw values, so the
    // exact-scos2 arithmetic can be replayed verbatim below
    val a = Seq((0L, Array(127f, 0f)), (2L, Array(0f, 127f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Array(127f, 13f)), (3L, Array(0f, 127f)))
      .toDF("vec_id", "embedding")
    def scos2(x: Array[Long], y: Array[Long]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      val na = x.map(v => v * v).sum; val nb = y.map(v => v * v).sum
      val num = if (dot < 0) -(dot * dot) else dot * dot
      num.toDouble / (na * nb).toDouble
    }
    val v0 = Array(127L, 0L); val v2 = Array(0L, 127L)
    val v1 = Array(127L, 13L); val v3 = Array(0L, 127L)
    val got = Similarity.mnnPairs(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    // a0's top-1 is b1 (b3 orthogonal); a2's is b3 (exact match); both
    // directions agree, so BOTH pairs are mutual
    val want = Seq(
      (0L, 1L, 127L * 127, 127L * 127, 127L * 127 + 13 * 13,
        scos2(v0, v1), scos2(v0, v3), scos2(v2, v1)),
      (2L, 3L, 127L * 127, 127L * 127, 127L * 127,
        scos2(v2, v3), scos2(v2, v1), scos2(v0, v3)))
    assert(got.toSeq === want)
  }

  test("hard negatives: planted labels yield the expected positive and " +
      "the near-duplicate wrong-label violation") {
    import graft.operators.Similarity
    val raw = Map(0L -> Array(127f, 0f), 1L -> Array(126f, 1f),
      2L -> Array(0f, 127f), 3L -> Array(127f, 1f))
    val emb = Seq((0L, raw(0L), 1), (1L, raw(1L), 1),
      (2L, raw(2L), 2), (3L, raw(3L), 2))
      .toDF("vec_id", "embedding", "label")
    def scos2(x: Array[Long], y: Array[Long]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      val na = x.map(v => v * v).sum; val nb = y.map(v => v * v).sum
      val num = if (dot < 0) -(dot * dot) else dot * dot
      num.toDouble / (na * nb).toDouble
    }
    // the operator ranks int8 CODES, so the replay must quantize too:
    // (126,1) normalizes to (127,1) — identical to vec 3's code
    def quant(a: Array[Float]): Array[Long] = {
      val m = a.map(x => math.abs(x.toDouble)).max
      a.map(x => math.floor(x.toDouble * 127.0 / m + 0.5).toLong)
    }
    val v = raw.map { case (k, a) => k -> quant(a) }
    val got = Similarity.hardNegatives(emb, nAnchors = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    def row(anchor: Long, pos: Long, neg: Long) = {
      val p = scos2(v(anchor), v(pos)); val n = scos2(v(anchor), v(neg))
      (anchor, 1, pos, p, neg, n, if (n >= p) 1 else 0)
    }
    // both anchors' hardest negative is 3 (the near-duplicate with the
    // WRONG label — the triplet worth training on), not the orthogonal 2
    val want = Seq(row(0L, 1L, 3L), row(1L, 0L, 3L))
    assert(got.toSeq === want)
    assert(got.forall(_._7 == 1), "planted near-dup must violate")
  }

  test("removal effect: hand-computed absorption on a planted chain — " +
      "a load-bearing channel gets full credit, a shortcut half") {
    // START->A (2 users), A->B, A->CONV, B->CONV. Base: p(B)=1e6,
    // p(A)=(1e6+1e6) div 2 = 1e6, p(START)=1e6. Remove B: p(A)=
    // (0+1e6) div 2 = 5e5 -> credit 5e5. Remove A: START loses its only
    // route -> credit 1e6.
    val trans = Seq(
      ("__start__", "A", 2L), ("A", "B", 1L),
      ("A", "__conv__", 1L), ("B", "__conv__", 1L))
      .toDF("f", "t", "n")
    val got = Relational.removalFromTransitions(trans).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("A", 1000000L, 0L, 1000000L),
      ("B", 1000000L, 500000L, 500000L)))
  }

  test("theil-sen and mann-kendall: hand-computed median slope and " +
      "trend statistics; all-tied series publishes NULL z") {
    // nation 0: units [10,12,11,20,10] over months 0..4; nation 1 all-tied
    val ser = (Seq((0L, 0L, 10L), (0L, 1L, 12L), (0L, 2L, 11L),
      (0L, 3L, 20L), (0L, 4L, 10L)) ++
      Seq((1L, 0L, 5L), (1L, 1L, 5L), (1L, 2L, 5L)))
      .toDF("nation", "m", "units")
    // 10 slopes sorted: -10,-1,-2/3,-1/2,0,1/2,2,10/3,4,9 -> rank 5 = 0
    val ts = Relational.theilSenFromSeries(ser).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // tied nation: slopes all 0, rank-2 of ((0,1),(0,2),(1,2)) is (0,2)
    assert(ts.toSeq === Seq((0L, 10L, 0L, 4L, 0.0),
      (1L, 3L, 0L, 2L, 0.0)))
    // MK nation 0: S = 1, var18 = 5*4*15 - 2*1*9 = 282, z = 0, no trend;
    // nation 1: var18 = 66 - 66 = 0 -> NULL z and NULL trend
    val mk = Relational.mannKendallFromSeries(ser).collect()
    val r0 = mk.find(_.getLong(0) == 0L).get
    assert((r0.getLong(1), r0.getLong(2), r0.getLong(3), r0.getDouble(4),
      r0.getInt(5)) === ((5L, 1L, 282L, 0.0, 0)))
    val r1 = mk.find(_.getLong(0) == 1L).get
    assert(r1.getLong(3) === 0L)
    assert(r1.isNullAt(4) && r1.isNullAt(5))
  }

  test("skip-gram pairs: hand-counted window pairs on a planted walk, " +
      "including the repeated-node self-context") {
    // one walk visiting nodes [0, 3, 4, 3, 1] (cust0, supp1, cust2,
    // supp1, supp0) — node 3 repeats at steps 1 and 3, so (supp1, supp1)
    // is a REAL distance-2 pair, not a self-join artifact
    def t(n: Long) = if (n % 2 == 0) "customer" else "supplier"
    val walk = Seq(0L, 3L, 4L, 3L, 1L).zipWithIndex.map { case (v, s) =>
      ("customer", 0L, 0, s, t(v), v / 2)
    }.toDF("node_type", "node_id", "wno", "step", "visit_type", "visit_id")
    val got = Relational.skipgramFromWalks(walk).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val want = Seq(
      ("customer", 0L, "customer", 2L, 1L, 0L, 1L),
      ("customer", 0L, "supplier", 1L, 1L, 1L, 0L),
      ("customer", 2L, "customer", 0L, 1L, 0L, 1L),
      ("customer", 2L, "supplier", 0L, 1L, 0L, 1L),
      ("customer", 2L, "supplier", 1L, 2L, 2L, 0L),
      ("supplier", 0L, "customer", 2L, 1L, 0L, 1L),
      ("supplier", 0L, "supplier", 1L, 1L, 1L, 0L),
      ("supplier", 1L, "customer", 0L, 1L, 1L, 0L),
      ("supplier", 1L, "customer", 2L, 2L, 2L, 0L),
      ("supplier", 1L, "supplier", 0L, 1L, 1L, 0L),
      ("supplier", 1L, "supplier", 1L, 2L, 0L, 2L))
    assert(got.toSeq === want)
  }

  test("chunk plan: hand-computed spans with overlap, full coverage, " +
      "and single-chunk short docs") {
    import graft.operators.TextAnalysis
    // 500 tokens, W=256, S=192: chunks [0,256), [192,448), [384,500)
    val long = ("w " * 500).trim
    val docs = Seq((1L, long), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkPlan(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    val want = Seq(
      (1L, 500, 0, 0, 256, 256, 0),
      (1L, 500, 1, 192, 448, 256, 0),
      (1L, 500, 2, 384, 500, 116, 1),
      (2L, 3, 0, 0, 3, 3, 1))
    assert(got.toSeq === want)
    // coverage law: consecutive chunks overlap (no token falls between)
    got.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._3).sliding(2).foreach {
        case Array(a, b) => assert(b._4 < a._5, "gap between chunks")
        case _ => ()
      }
    }
  }

  test("guarded isqrt: floor(sqrt) law holds across the boundary-heavy " +
      "double-exact domain") {
    def isqrt(x: Long): Long = {
      val s = math.floor(math.sqrt(x.toDouble)).toLong
      if ((s + 1) * (s + 1) <= x) s + 1 else if (s * s > x) s - 1 else s
    }
    // perfect squares and their +-1 neighbors are exactly where the
    // unguarded floor(sqrt) breaks; sweep them up to the 2^53 domain
    // edge plus a seeded random sample
    val ks = (1L to 2000L) ++ Seq(1L << 20, (1L << 26) - 1, 1L << 26,
      94906265L /* floor(sqrt(2^53)) */)
    ks.foreach { k =>
      Seq(k * k - 1, k * k, k * k + 1).filter(_ >= 0).foreach { x =>
        val s = isqrt(x)
        assert(s * s <= x && (s + 1) * (s + 1) > x, s"isqrt($x) = $s")
      }
    }
    val rnd = new scala.util.Random(42)
    (1 to 5000).foreach { _ =>
      val x = math.abs(rnd.nextLong()) % (1L << 53)
      val s = isqrt(x)
      assert(s * s <= x && (s + 1) * (s + 1) > x, s"isqrt($x) = $s")
    }
  }

  test("temperature mix: exact isqrt boundary, quotas sum to budget, " +
      "and the tail source gains share vs raw") {
    import graft.operators.TextAnalysis
    // 9999 exercises the isqrt guard (floor(sqrt) = 99, 100^2 > 9999)
    val docs = Seq(("a", 100L), ("b", 400L), ("c", 9999L))
      .toDF("source", "n_chars")
    val got = TextAnalysis.temperatureMix(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    def isqrt(x: Long): Long = {
      val s = math.floor(math.sqrt(x.toDouble)).toLong
      if ((s + 1) * (s + 1) <= x) s + 1 else if (s * s > x) s - 1 else s
    }
    val chars = Map("a" -> 100L, "b" -> 400L, "c" -> 9999L)
    val w = chars.map { case (k, v) => k -> isqrt(v) }
    assert(w === Map("a" -> 10L, "b" -> 20L, "c" -> 99L))
    val wTot = w.values.sum; val cTot = chars.values.sum
    val base = w.map { case (k, v) => k -> (1000000L * v) / wTot }
    val frac = w.map { case (k, v) => k -> (1000000L * v) % wTot }
    val left = 1000000L - base.values.sum
    val order = frac.toSeq.sortBy { case (k, f) => (-f, k) }.map(_._1)
    val quota = base.map { case (k, b) =>
      k -> (b + (if (order.indexOf(k) < left) 1L else 0L))
    }
    val want = Seq("a", "b", "c").map { k =>
      (k, chars(k), w(k), chars(k) * 1000000 / cTot,
        w(k) * 1000000 / wTot, quota(k))
    }
    assert(got.toSeq === want)
    assert(got.map(_._6).sum === 1000000L, "quotas must sum to budget")
    // temperature flattens: the dominant source's share drops, tails gain
    assert(got.find(_._1 == "c").get._5 < got.find(_._1 == "c").get._4)
    assert(got.find(_._1 == "a").get._5 > got.find(_._1 == "a").get._4)
  }

  test("dim truncation recall: panel shape, bounds, and exact totals " +
      "on the real corpus") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val got = Similarity.dimTruncationRecall(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === Seq(8, 16, 32, 48))
    val total = got.head._3
    assert(total === 100L) // 20 queries x 5
    got.foreach { case (d, caught, t, rec) =>
      assert(t === total)
      assert(caught >= 0 && caught <= t, s"dims $d caught $caught")
      assert(rec === caught.toDouble / t.toDouble)
    }
  }

  test("hash classifier: scores equal an independent md5 replay on a " +
      "planted corpus; verdict flips at zero") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "alpha beta gamma", "en"), (2L, "delta epsilon", "en"),
      (3L, "alpha beta alpha beta gamma delta", "en"))
      .toDF("doc_id", "text", "lang")
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def expected(text: String): (Long, Long) = {
      val w = text.split("[^\\p{L}]+").filter(_.nonEmpty)
      val bgs = w.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      val scores = bgs.toSeq.map { bg =>
        h60("ftw:" + (h60("ftb:" + bg) % 4096)) % 2001 - 1000
      }
      (scores.size.toLong, scores.sum)
    }
    val got = TextAnalysis.hashClassifierScores(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val want = Seq(1L -> "alpha beta gamma", 2L -> "delta epsilon",
      3L -> "alpha beta alpha beta gamma delta").map { case (id, t) =>
      val (n, s) = expected(t)
      (id, n, s, if (s >= 0) 1 else 0)
    }
    assert(got.toSeq === want)
  }

  test("rater agreement: kappa equals a differential Fleiss replay over " +
      "the three raters' own outputs") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    def keeps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val kq = keeps(TextAnalysis.qualityModelScores(docs))
    val kg = keeps(TextAnalysis.gopherRules(docs))
    val kl = keeps(TextAnalysis.lmScores(docs))
    val ids = kq.keySet & kg.keySet & kl.keySet
    val n = ids.size.toLong
    val ks = ids.toSeq.map(i => kq(i) + kg(i) + kl(i))
    val sa = ks.map(k => k * (k - 1) + (3 - k) * (2 - k)).sum
    val kk = ks.sum
    val q2 = BigInt(kk) * kk + BigInt(3 * n - kk) * (3 * n - kk)
    val kn = (BigInt(3) * n * sa - 2 * q2).toLong
    val kd = (BigInt(18) * n * n - 2 * q2).toLong
    val r = TextAnalysis.raterAgreement(docs).collect()(0)
    assert(r.getLong(0) === n)
    assert(r.getLong(1) === kq.filterKeys(ids).values.sum)
    assert(r.getLong(7) === kn)
    assert(r.getLong(8) === kd)
    assert(r.getDouble(9) === kn.toDouble / kd.toDouble)
    // pairwise raw agreement, replayed
    val qg = ids.count(i => kq(i) == kg(i)).toLong
    assert(r.getLong(4) === qg * 1000000 / n)
  }

  test("ppl buckets: hand-built corpus lands head/middle/tail exactly " +
      "and equal scores share a bucket") {
    import graft.operators.TextAnalysis
    // shared bigram "x x" (c > 1 everywhere); u*/v*/w*/y* bigrams are
    // corpus-unique (c = 1). rare_micro: d1,d5 -> 0; d3,d6 -> 500000;
    // d2 -> 666666; d4 -> 1000000. tot=6: below 0,2 -> head/middle
    // boundary at 2 (3*2>=6), tail at >= 4 (3*4>=12)
    val docs = Seq(
      (1L, "x x x", "en"), (2L, "x x ua ub", "en"),
      (3L, "x x va", "en"), (4L, "wa wb", "en"),
      (5L, "x x x x", "en"), (6L, "x x yy", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.pplBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getInt(5)))
    val want = Seq(
      (1L, "en", 2L, 0L, "head", 1),
      (2L, "en", 3L, 666666L, "tail", 0),
      (3L, "en", 2L, 500000L, "middle", 1),
      (4L, "en", 1L, 1000000L, "tail", 0),
      (5L, "en", 3L, 0L, "head", 1),
      (6L, "en", 2L, 500000L, "middle", 1))
    assert(got.toSeq === want)
  }

  test("zero-norm guards: degenerate vectors score sentinels, never throw") {
    // the r13 fuzzer's finding: under Spark's ANSI default, a zero (or
    // all-zero-quantizing) vector turned the cosine divisions into
    // job-killing DIVIDE_BY_ZERO errors. The guards pin the library
    // conventions instead: float cosine → −1.0 (DuckDB's own
    // list_cosine_similarity convention, so oracles replay verbatim),
    // exact-integer scos2 → −2.0 (the TopCentroids sentinel, below every
    // real scos2 ∈ [−1, 1]).
    import graft.operators.{Embeddings, Similarity}
    val emb = Seq(
      (0L, Seq.fill(4)(0.0f), 0),            // zero vector
      (1L, Seq(1e-30f, 0f, 0f, 0f), 0),      // quantizes to all-zero codes
      (2L, Seq(1f, 2f, 3f, 4f), 1),
      (3L, Seq(4f, 3f, 2f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    // bruteForceTopK: runs to completion; the zero vector ranks its real
    // neighbors above nothing (its sims are all −1.0, ties by id)
    val bf = Similarity.bruteForceTopK(emb, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(bf.count(_._1 == 0L) === 3)
    assert(bf.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq
      === Seq(1L, 2L, 3L)) // all sims −1.0 → pure id tie-break
    // exactScos2: sentinel on zero norms, real value otherwise
    val scored = Seq((0L, 0L, 5L), (4L, 0L, 25L), (3L, 25L, 25L))
      .toDF("dot", "na", "nb")
      .select(Embeddings.exactScos2(col("dot"), col("na"), col("nb"))
        .as("s")).collect().map(_.getDouble(0))
    assert(scored(0) === -2.0 && scored(1) === -2.0)
    assert(scored(2) === (3.0 * 3.0) / (25.0 * 25.0))
  }

  test("q60 recursion survives corpora past the 1M-row default tripwire") {
    // Spark 4's spark.sql.cteRecursionRowLimit defaults to 1e6 TOTAL rows
    // across the recursion — the sf1 full-roster bench caught q60 dying
    // on it (50k docs × ~24 ancestor levels). Plant a corpus that
    // provably exceeds the default (100k docs with ids up to ~9.1M →
    // ~2.2M recursion rows) and require the query to complete: the fix
    // raises the row tripwire at query time, keeping the LEVEL limit as
    // the runaway guard.
    val docs = spark.range(100000)
      .select((col("id") * 91 + 1).as("doc_id"), lit("t").as("text"),
        lit("en").as("lang"), lit("s").as("source"), lit(1).as("n_chars"))
    docs.createOrReplaceTempView("documents")
    val res = Relational.q60OverView(spark)
    assert(res.count() === 100000L)
  }

  test("q180 RSI: hand-computed gains/losses on a planted daily series, " +
      "flat-window NULL, and the 14-full-diffs publication floor") {
    // class A: 7 days of +10, 7 days of -5, then +3, -2 (16 diffs);
    // class B: flat (diffs all 0) -> rsi NULL; class C: 14 days, one
    // short of the floor -> publishes nothing
    val a = Seq(1000L, 1010, 1020, 1030, 1040, 1050, 1060, 1070,
      1065, 1060, 1055, 1050, 1045, 1040, 1035, 1038, 1036)
    val daily = (
      a.zipWithIndex.map { case (c, i) => ("A", f"d${i + 1}%02d", c) } ++
      (1 to 15).map(i => ("B", f"d$i%02d", 500L)) ++
      (1 to 14).map(i => ("C", f"d$i%02d", 300L))
    ).toDF("event_type", "day", "close_c")
    val got = Relational.rsiFromDaily(daily).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    // A day15: gains 7x10=70, losses 7x5=35 -> 700000 div 105 = 6666
    // A day16: gains 6x10+3=63, losses 35   -> 630000 div 98  = 6428
    // A day17: gains 5x10+3=53, losses 7x5+2=37 -> 530000 div 90 = 5888
    assert(got.toSeq === Seq(
      ("A", "d15", 1035L, 70L, 35L, 6666L),
      ("A", "d16", 1038L, 63L, 35L, 6428L),
      ("A", "d17", 1036L, 53L, 37L, 5888L),
      ("B", "d15", 500L, 0L, 0L, -1L)))
  }

  test("q181 STL: a period-7 planted series decomposes with ZERO " +
      "residuals; edges and short series stay NULL, never half-window") {
    // x cycles 1..7 twice: every centered 7-sum is 28, the weekday
    // seasonal absorbs all remaining structure, residuals must vanish
    val a = (1 to 14).map(i => ("A", f"2024-01-$i%02d", (((i - 1) % 7) + 1).toLong))
    val b = (1 to 3).map(i => ("B", f"2024-02-$i%02d", 5L)) // no full window
    val got = Relational.stlFromDaily((a ++ b).toDF("event_type", "day", "x"))
      .collect()
    val aRows = got.filter(_.getString(0) == "A").sortBy(_.getString(1))
    assert(aRows.length === 14)
    aRows.foreach { r =>
      val day = r.getString(1).substring(8).toInt
      if (day >= 4 && day <= 11) {
        assert(r.getLong(3) === 28L, s"day $day t7")
        assert(r.getLong(7) === 0L, s"day $day residual must vanish")
      } else {
        assert(r.isNullAt(3) && r.isNullAt(7), s"day $day must be edge-NULL")
      }
    }
    // seasonal sums: wd of 2024-01-04 is 0 (epoch-days 19726 % 7), its
    // detrended value 7*4-28 = 0 twice -> (0, 2); single-day weekdays
    // carry their own detrended value
    val byWd = aRows.filter(!_.isNullAt(5))
      .map(r => r.getInt(4) -> (r.getLong(5), r.getLong(6))).toMap
    assert(byWd(0) === ((0L, 2L)))
    assert(byWd(1) === ((7L, 1L)) && byWd(6) === ((-7L, 1L)))
    assert(byWd(3) === ((21L, 1L)) && byWd(4) === ((-21L, 1L)))
    // class B: 3 days, no full window anywhere -> no seasonal, no resid
    val bRows = got.filter(_.getString(0) == "B")
    assert(bRows.length === 3)
    assert(bRows.forall(r => r.isNullAt(3) && r.isNullAt(6) && r.isNullAt(7)))
  }

  test("q182 DiD: hand-computed four-cell panel, midpoint cutoff, and " +
      "the empty-cohort NULL branch") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // treated 'aa' (even length): pre mean 200, post mean 600; control
    // 'b': pre mean 50, post mean 200 -> DiD = 400 - 150 = 250.
    // cutoff = 01-01 + (3 div 2) = 01-02
    val e = Seq(
      ("aa", d("2024-01-01"), 100L), ("aa", d("2024-01-01"), 300L),
      ("aa", d("2024-01-02"), 500L), ("aa", d("2024-01-03"), 700L),
      ("b", d("2024-01-01"), 50L),
      ("b", d("2024-01-02"), 150L), ("b", d("2024-01-04"), 250L))
      .toDF("event_type", "d", "c")
    val r = Relational.didFromCents(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ===
      ((1200L, 2L, 400L, 2L, 400L, 2L, 50L, 1L)))
    assert(r.getDouble(8) === 250.0)
    // all classes treated and a zero-width pre period -> empty cells
    // publish NULL DiD, never 0/0
    val allPost = Seq(("aa", d("2024-01-01"), 100L),
      ("aa", d("2024-01-02"), 200L)).toDF("event_type", "d", "c")
    assert(Relational.didFromCents(allPost).collect()(0).isNullAt(8))
  }

  test("q183 conformal: exact order-statistic qhat on a planted series " +
      "and integer coverage on the held-out half") {
    // 7 flat warmup days then 9 scored days; even day-index = calibration
    // scores [0,3,5,0,2] (sorted [0,0,2,3,5], k=ceil(6*.9)=6 capped at 5
    // -> qhat=5), odd = test scores [2,0,0,1] -> 4/4 covered
    val x = Seq(10L, 10, 10, 10, 10, 10, 10, 10, 12, 13, 10, 15, 10, 10, 11, 10)
    val daily = x.zipWithIndex
      .map { case (v, i) => ("A", f"d${i + 1}%02d", v) }
      .toDF("event_type", "day", "x")
    val got = Relational.conformalFromDaily(daily).collect()
    assert(got.length === 1)
    val r = got(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === (("A", 5L, 5L, 4L, 4L, 10000L)))
  }
}
