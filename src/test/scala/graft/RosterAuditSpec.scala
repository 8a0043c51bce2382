package graft

import graft.tools.PlanAudit
import org.scalatest.funsuite.AnyFunSuite

/** The roster-wide scale gate: EVERY SparkEntry query's physical plan goes
  * through [[PlanAudit]], and a plan with an error-grade finding (true
  * cartesian product, window with no partition spec) fails the suite
  * unless the query is in the waiver table below with a NAMED bound — a
  * human-readable reason why the flagged pattern is size-bounded at any
  * corpus scale. This mechanizes the "would this plan survive 100×?"
  * review: a new query with an accidental global sort or cartesian join
  * cannot land green, and a waiver cannot outlive the pattern it excuses
  * (a waived query whose plan comes back clean fails as STALE, so the
  * table tracks the code).
  *
  * Audited at sf0.001: plan SHAPE is scale-independent (the audit reads
  * the pre-execution AQE plan), and the sweep's point is structure, not
  * timing. Streaming (`st_*`) queries execute their micro-batch harness
  * when constructed; the audited frame is their batch finalizer over the
  * sink — the streaming side's state bounds are asserted in
  * StreamingSpec, the finalizer's batch plan is gated here.
  */
class RosterAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sf0001

  /** query -> the bound that makes its flagged pattern safe at 100 TB.
    * Every entry must name WHY the data under the pattern cannot grow
    * with the corpus (a fixed bucket count, a calendar grain, a
    * parameter-k) — "it's fast today" is not a bound.
    */
  val waivers: Map[String, String] = Map(
    // --- k-bounded rank windows (inputs are TakeOrdered lists) ---
    "ann_hybrid_rrf" -> ("rank windows run over the retrievers' " +
      "TakeOrdered top-kEach lists (<= 50 rows each); fusion join <= 2k"),
    // --- bucket-bounded two-level prefix sums (sorted-neighborhood) ---
    // (dd_snm's matching waiver was deleted when its gate-vs-metric
    // checkpoint barrier truncated the audited lineage — the bucket-count
    // window below the barrier is still covered by the two entries here)
    "dd_damerau" -> ("same snmRanked two-level rank: global window over " +
      "<= first-char-alphabet bucket-count rows"),
    "dd_jaro" -> ("same snmRanked two-level rank: global window over " +
      "<= first-char-alphabet bucket-count rows"),
    "ta_pack" -> ("single-partition window over bucket TOTALS = docs/256 " +
      "rows (256x reduction; a third bucketing level buys another 256x)"),
    // --- fixed-bucket / category-bounded windows & broadcasts ---
    "q87_skyline" -> ("cummax over <= 64 bucket-maxima rows (bucket count " +
      "fixed by the histogram width parameter, not the data)"),
    "q105_stratified" -> ("largest-remainder ranking window over one row " +
      "per STRATUM (category cardinality, not corpus size)"),
    "ta_temperature_mix" -> ("largest-remainder rank window over one row " +
      "per SOURCE (corpus-level source cardinality, q105's convention)"),
    "st_temperature_mix" -> ("batch twin of ta_temperature_mix: same " +
      "one-row-per-SOURCE largest-remainder window over the folded mass"),
    "q114_bitmap_index" -> ("nested-loop probe against the 60-entry " +
      "bitmap-bucket index (user_id % 60 masks — fixed 60-row side)"),
    "emb_silhouette" -> ("centroid table broadcast: one row per LABEL " +
      "(class cardinality — a clustering parameter, not corpus-scaled)"),
    // --- calendar / value-range bounded series ---
    "q122_drawdown" -> ("equity-curve windows over the day-grain series " +
      "(<= 366 rows/year of history)"),
    "q128_active_users" -> ("cumulative-users window over the day-grain " +
      "panel (<= 366 rows/year)"),
    "q135_survival" -> ("at-risk reverse-cumsum over one row per tenure " +
      "DAY (observation window, <= days of history)"),
    "st_survival" -> ("batch twin of q135: same tenure-day-grain window"),
    "q142_time_to_convert" -> ("CDF windows over the time-to-convert " +
      "HISTOGRAM (one row per day-grain latency bucket)"),
    "q146_ks_test" -> ("KS cumulative window over DISTINCT quantized " +
      "cent values (bounded by the price range x 100, not row count)"),
    "st_ks" -> ("batch twin of q146: same value-range-bounded KS window"))

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"scale audit: $name") {
      val df = SparkEntry.queries(name)(spark, dir)
      val findings = PlanAudit.audit(df)
      val errors = findings.filter(_.error)
      waivers.get(name) match {
        case Some(bound) =>
          assert(errors.nonEmpty,
            s"STALE WAIVER: $name is waived ('$bound') but its plan now " +
              "audits clean — delete the waiver so the gate re-arms")
        case None =>
          assert(errors.isEmpty,
            s"$name has ${errors.size} scale-killer finding(s) and no " +
              s"waiver:\n${errors.mkString("\n")}")
      }
      // zero-unexplained-warning gate (r13): every non-error finding must
      // carry its own plan-derived proof (`proved`) — anything else (an
      // unpruned wide scan, a future warning-grade rule) is unexplained
      // and fails here. This subsumes the r11 wide-scan tripwire: a query
      // reading every column of a wide table multiplies scan bytes by the
      // stored/used ratio at 100 TB.
      val unexplained = findings.filter(f => !f.error && !f.proved)
      assert(unexplained.isEmpty,
        s"$name has unexplained warning(s):\n${unexplained.mkString("\n")}")
    }
  }
}
