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

  // --- retryFlagged: the r13-verdict "quiet-box discipline, self-serve"
  // bounded auto-retry. The sentinel detects contamination; these pin
  // that a flagged rep is re-run, converges when the host quiets, stays
  // bounded when it doesn't, and leaves full provenance either way.

  private def retry(rows: Seq[(String, Seq[Double], Seq[Long])],
      rerun: String => (Double, Long), budget: Int = 2) =
    Bench.retryFlagged("headline", rows, rerun, budget, pause = () => ())

  test("a planted slow rep is retried, replaced, and the artifact provenance records it") {
    var runs = 0
    val (rows, prov) = retry(Seq(("q3", Seq(1.0, 1.1, 2.9), Seq(0L, 0L, 0L))),
      q => { runs += 1; (1.05, 10L) })
    // the 2.9 s rep (2.9x min) was re-run once, beat, and replaced —
    // the post-retry array is flag-free so the converged capture reads
    // clean, while stall_retries carries the contamination history
    assert(runs === 1)
    assert(rows.head._2 === Seq(1.0, 1.1, 1.05))
    assert(Bench.stallFlags("headline", rows).isEmpty)
    assert(prov === Seq(
      """{"section":"headline","query":"q3","rep":3,"orig_sec":2.9000,""" +
        """"orig_gc_ms":0,"retry_sec":1.0500,"retry_gc_ms":10,"replaced":true}"""))
  }

  test("a still-loaded host is bounded: budget retries, rep kept, flag survives") {
    var runs = 0
    val (rows, prov) = retry(Seq(("q3", Seq(1.0, 1.1, 2.9), Seq(0L, 0L, 0L))),
      q => { runs += 1; (9.9, 700L) })
    // both budgeted retries ran, neither beat the flagged rep, nothing
    // was replaced — the flag stands and the artifact shows both attempts
    assert(runs === 2)
    assert(rows.head._2 === Seq(1.0, 1.1, 2.9))
    assert(Bench.stallFlags("headline", rows).size === 1)
    assert(prov.size === 2)
    assert(prov.forall(_.contains(""""replaced":false""")))
  }

  test("clean reps never trigger a retry run") {
    var runs = 0
    val (rows, _) = retry(Seq(("q1", Seq(0.43, 0.45, 0.44), Seq(5L, 0L, 12L))),
      q => { runs += 1; (0.43, 0L) })
    assert(runs === 0)
    assert(rows.head._2 === Seq(0.43, 0.45, 0.44))
  }

  test("maxRetries=0 (what Bench.main passes for SPARK_GRAFT_BENCH_RETRIES=0) passes flagged rows through untouched") {
    var runs = 0
    val (rows, prov) = retry(Seq(("q3", Seq(1.0, 1.1, 2.9), Seq(0L, 0L, 700L))),
      q => { runs += 1; (0.5, 0L) }, budget = 0)
    assert(runs === 0 && prov.isEmpty)
    assert(rows.head._2 === Seq(1.0, 1.1, 2.9))
    // the pure "record the contamination" capture keeps its flags
    assert(Bench.stallFlags("headline", rows).nonEmpty)
  }

  test("a retry that throws keeps the measured rows, records the error, stops retrying") {
    // a transient rerun failure must not discard a fully-measured
    // section (the llm sweep is 28 queries x 3 reps by the time a retry
    // runs): the flagged rep and its flag survive, the error lands in
    // provenance, and no further retries burn on that query
    var runs = 0
    val (rows, prov) = retry(Seq(("q3", Seq(1.0, 1.1, 2.9), Seq(0L, 0L, 0L))),
      q => { runs += 1; sys.error("executor lost") })
    assert(runs === 1)
    assert(rows.head._2 === Seq(1.0, 1.1, 2.9))
    assert(Bench.stallFlags("headline", rows).size === 1)
    assert(prov.size === 1)
    assert(prov.head.contains(""""retry_error":"executor lost"""") &&
      prov.head.contains(""""replaced":false"""))
  }

  test("a fat-GC min rep (the ss20 shape) is retried and its GC provenance kept") {
    // the committed-r13 single flag: the query's MIN rep itself carried
    // 152 ms GC — the ratio rule can never flag a min, but the GC rule
    // can, and the retry must target exactly that rep
    var runs = 0
    val (rows, prov) = retry(Seq(("ss20", Seq(4.0, 4.2, 4.3), Seq(152L, 40L, 35L))),
      q => { runs += 1; (3.9, 20L) })
    assert(runs === 1)
    assert(rows.head._2 === Seq(3.9, 4.2, 4.3))
    assert(rows.head._3 === Seq(20L, 40L, 35L))
    assert(Bench.stallFlags("headline", rows).isEmpty)
    assert(prov.head.contains(""""orig_gc_ms":152""") &&
      prov.head.contains(""""replaced":true"""))
  }

  test("a GC-only-flagged rep accepts a clean-GC retry even a few ms slower") {
    // r14-ADVICE shape: the min rep is flagged ONLY by the GC rule; a
    // retry with clean GC that is a few ms SLOWER proved the stall
    // transient — discarding it would leave the flag standing and burn
    // the remaining budget re-retrying the same rep
    var runs = 0
    val (rows, prov) = retry(Seq(("ss20", Seq(4.0, 4.2, 4.3), Seq(152L, 40L, 35L))),
      q => { runs += 1; (4.05, 20L) })
    assert(runs === 1)
    assert(rows.head._2 === Seq(4.05, 4.2, 4.3))
    assert(rows.head._3 === Seq(20L, 40L, 35L))
    assert(Bench.stallFlags("headline", rows).isEmpty)
    assert(prov.head.contains(""""replaced":true"""))
  }

  test("the GC-only acceptance window is tied to the replaced rep, not ratio x min") {
    // round-15 review shape: the min rep is GC-flagged and a clean-GC
    // retry lands FAR slower (9.9 s vs the 4.0 s rep — inside the old
    // ratio*min window of 2.5*4.0). Accepting it would replace the
    // genuine fastest measurement and inflate the reported min; it must
    // be rejected, the rep kept, the flag surviving after the budget.
    var runs = 0
    val (rows, prov) = retry(Seq(("ss20", Seq(4.0, 4.2, 4.3), Seq(152L, 40L, 35L))),
      q => { runs += 1; (9.9, 20L) })
    assert(runs === 2) // both budgeted retries, neither accepted
    assert(rows.head._2 === Seq(4.0, 4.2, 4.3))
    assert(rows.head._3 === Seq(152L, 40L, 35L))
    assert(Bench.stallFlags("headline", rows).size === 1)
    assert(prov.forall(_.contains(""""replaced":false""")))
  }

  test("sub-50ms GC-flagged reps get no unbounded acceptance window") {
    // with min <= 0.05 the ratio rule is exempt, so the old ratio-clean
    // clause was vacuous: ANY clean-GC wall time was accepted. The 5%
    // bound must hold here too — a 5.0 s clean-GC retry for a 0.03 s
    // flagged rep is rejected.
    var runs = 0
    val (rows, _) = retry(Seq(("q", Seq(0.03, 0.06, 0.06), Seq(200L, 0L, 0L))),
      q => { runs += 1; (5.0, 0L) })
    assert(runs === 2)
    assert(rows.head._2 === Seq(0.03, 0.06, 0.06))
  }

  test("a ratio-flagged rep still requires the retry to strictly beat it") {
    // the GC-only acceptance must NOT leak into ratio flags: a 2.9x rep
    // with a clean-GC retry at 3.0x stays flagged (the retry neither beat
    // it nor disproved the ratio contamination)
    var runs = 0
    val (rows, _) = retry(Seq(("q3", Seq(1.0, 1.1, 2.9), Seq(0L, 0L, 0L))),
      q => { runs += 1; (3.0, 0L) })
    assert(runs === 2) // both budgeted retries, neither accepted
    assert(rows.head._2 === Seq(1.0, 1.1, 2.9))
    assert(Bench.stallFlags("headline", rows).size === 1)
  }

  test("one retry can clear multiple flags when the min rep was the contaminated one") {
    // reps [0.1, 0.3, 0.28]: with min 0.1 the ratio rule flags BOTH
    // later reps; a successful retry replaces the WORST first and
    // re-evaluates, so convergence is iterative, worst-first
    var runs = 0
    val (rows, _) = retry(Seq(("q6", Seq(0.1, 0.3, 0.28), Seq(0L, 0L, 0L))),
      q => { runs += 1; (0.11, 0L) })
    assert(runs === 2)
    assert(rows.head._2 === Seq(0.1, 0.11, 0.11))
    assert(Bench.stallFlags("headline", rows).isEmpty)
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
    val (rows, prov) = Bench.timedSuite("unit", names, warmups = 2, reps = 3,
      retryBudget = 0) { q =>
      calls += q
      val k = n; n += 1
      if (k < 2 * names.size) (1000.0 + k, 0L)
      else (k.toDouble, if (q == "b" && k == 10) 700L else k.toLong)
    }
    // 2 warmup passes then 3 interleaved rep passes, and no retry run
    assert(calls.result() === Vector.fill(5)(names).flatten)
    assert(rows.map(_._1) === names)
    assert(rows.forall { case (_, reps, gcs) => reps.size == 3 && gcs.size == 3 })
    assert(rows.flatMap(_._2).forall(_ < 1000.0), "a warmup timing leaked into the reps")
    assert(rows === Seq(
      ("a", Seq(6.0, 9.0, 12.0), Seq(6L, 9L, 12L)),
      ("b", Seq(7.0, 10.0, 13.0), Seq(7L, 700L, 13L)),
      ("c", Seq(8.0, 11.0, 14.0), Seq(8L, 11L, 14L))))
    // the flagged rep passes through untouched and no retry is recorded
    assert(Bench.stallFlags("unit", rows).size === 1)
    assert(prov.isEmpty)
  }
}
