package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stall sentinel ([[Bench.stallFlags]]): the r12 driver
  * bench was environment-contaminated (ss20 8.1 s min at 599–798 ms GC
  * per rep, q21 reps [1.57, 3.25, 5.40] — on code commit-identical to a
  * 2.84 s round) and the contamination was only visible by hand-reading
  * rep arrays. The sentinel makes that class of run machine-detectable
  * from the artifact alone; this spec fixes its decision rules so a
  * threshold regression can't silently blind it. Pure function — no
  * SparkSession needed. */
class BenchSentinelSpec extends AnyFunSuite {

  private def flags(reps: Seq[Double], gcs: Seq[Long]): Seq[String] =
    Bench.stallFlags("llm", Seq(("q", reps, gcs)))

  test("clean steady reps with quiet GC raise no flags") {
    assert(flags(Seq(1.02, 0.98, 1.05), Seq(0, 40, 95)).isEmpty)
  }

  test("a rep beyond 2.5x the query min is flagged as a one-sided stall") {
    val got = flags(Seq(1.0, 1.1, 2.6), Seq(0, 0, 0))
    assert(got.size === 1)
    assert(got.head.contains(""""rep":3""") && got.head.contains(""""sec":2.6000"""))
  }

  test("a rep with fat stop-the-world GC is flagged even at steady wall time") {
    // the r12 signature: consistent reps, 599-798ms GC (heap churn under
    // external memory pressure) — wall-ratio alone would miss it
    val got = flags(Seq(8.76, 8.11, 8.4), Seq(599, 116, 798))
    assert(got.size === 2)
    assert(got.head.contains(""""gc_ms":599""") && got.last.contains(""""gc_ms":798"""))
  }

  test("sub-50ms query mins are exempt from the ratio rule (scheduler jitter)") {
    assert(flags(Seq(0.010, 0.035, 0.012), Seq(0, 0, 0)).isEmpty)
    // ...but fat GC still flags even a fast query
    assert(flags(Seq(0.010, 0.035, 0.012), Seq(0, 300, 0)).size === 1)
  }

  test("a uniform slowdown (all reps moved) is NOT flagged — that is a regression, not a stall") {
    // the sentinel's contract: one-sided noise is its job; a plan
    // regression shows five consistently slow reps and is caught by
    // round-over-round comparison, not per-run flags
    assert(flags(Seq(5.0, 5.2, 5.1), Seq(0, 0, 0)).isEmpty)
  }

  test("flags carry section, query, rep index, value, min and gc for adjudication") {
    val got = Bench.stallFlags("tpch22",
      Seq(("q21_suppliers_waiting", Seq(1.57, 3.25, 5.40), Seq(31, 111, 468))))
    // rep 3 trips BOTH rules (5.40 > 2.5x1.57 and 468ms GC) but flags
    // once; rep 2 (3.25 = 2.07x min, 111ms) sits under both thresholds
    assert(got.size === 1)
    assert(got.last ===
      """{"section":"tpch22","query":"q21_suppliers_waiting","rep":3,""" +
        """"sec":5.4000,"min":1.5700,"gc_ms":468}""")
  }

  // --- timedSuite: the one timed loop Bench's sections and ScaleCurve's
  // scale points share (no Spark needed — `run` is a stub)

  test("timedSuite: warmups first and discarded, reps round-robin, exactly reps samples, budget 0 passes through") {
    val names = Seq("a", "b", "c")
    val calls = Vector.newBuilder[String]
    var n = 0
    // warmup calls (the first 2 passes) return 1000+ s so a leaked warmup
    // timing is unmistakable; timed call k returns (k s, k ms), except
    // b's second rep, which carries fat GC so the sentinel flags it
    val rows = Bench.timedSuite(names, warmups = 2, reps = 3) { q =>
      calls += q
      val k = n; n += 1
      if (k < 2 * names.size) (1000.0 + k, 0L)
      else (k.toDouble, if (q == "b" && k == 10) 700L else k.toLong)
    }
    // 2 warmup passes then 3 interleaved rep passes, and no other run
    assert(calls.result() === Vector.fill(5)(names).flatten)
    assert(rows.map(_._1) === names)
    assert(rows.forall { case (_, reps, gcs) => reps.size == 3 && gcs.size == 3 })
    assert(rows.flatMap(_._2).forall(_ < 1000.0), "a warmup timing leaked into the reps")
    assert(rows === Seq(
      ("a", Seq(6.0, 9.0, 12.0), Seq(6L, 9L, 12L)),
      ("b", Seq(7.0, 10.0, 13.0), Seq(7L, 700L, 13L)),
      ("c", Seq(8.0, 11.0, 14.0), Seq(8L, 11L, 14L))))
    // the flagged rep passes through untouched
    assert(Bench.stallFlags("unit", rows).size === 1)
  }
}
