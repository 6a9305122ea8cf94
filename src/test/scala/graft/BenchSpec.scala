package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Bench's untimed warm-up is part of what its numbers mean: every query
  * it runs before the sweep takes that query's one-time costs out of the
  * timed run. The allowed set is pinned here, so a new warm-up is a
  * visible change with its reason at `Bench.WarmUps`, not a quiet edit.
  */
class BenchSpec extends AnyFlatSpec with Matchers {

  "Bench.WarmUps" should "list exactly the allowed warm-up queries" in {
    Bench.WarmUps shouldBe Seq(
      "cef01_seq2_strict" -> Bench.Tiny, "p06_dd_minhash_pairs" -> Bench.Tiny,
      "cef22_streaming" -> Bench.Tiny, "p24_filter_compose" -> Bench.Tiny,
      "p26_txt_lm_quality" -> Bench.Tiny, "p27_dd_dupspans" -> Bench.Tiny,
      "cef22_streaming" -> Bench.BenchSf, "p120_src_cusum_stream" -> Bench.BenchSf)
  }

  it should "name registered queries, and on the bench SF only streaming gates" in {
    Bench.WarmUps.map(_._1).filterNot(SparkEntry.queries.contains) shouldBe empty
    // on the bench SF a warm-up only builds slice scaffolding: a gate
    // whose slice set the timed sweep would otherwise build
    Bench.WarmUps.collect { case (q, Bench.BenchSf) => q }
      .filterNot(q => q.contains("stream")) shouldBe empty
  }
}
