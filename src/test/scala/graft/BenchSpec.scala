package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench stdout line: bounded for the tail capture, but a failed leg
  * or its failure keys are never elided. */
class BenchSpec extends AnyFunSuite {

  test("stdout line: a failed leg and the failure keys survive elision at 98 legs") {
    // 97 successful legs (0.1 .. 9.7 s) plus one failed leg, recorded
    // negative, in execution order
    val ok = (1 to 97).map(i => f"g_oracle_query_leg_$i%02d" -> i / 10.0)
    val results = (ok.take(40) :+ ("g_failed_leg" -> -0.5)) ++ ok.drop(40)
    val extra = Seq("query_total_pass1_cold" -> "300.0", "failed_queries" -> "g_failed_leg",
      "failed_legs_per_pass" -> "1/1", "query_leg_protocol" -> "not a decision key")
    val line = Bench.stdoutLine("/data/sf0.1", results, extra)
    assert(results.length == 98)
    assert(line.length <= 1850, s"${line.length} chars")
    assert(line.contains("\"queries_elided\""), "98 legs must not fit without elision")
    assert(line.contains("\"g_failed_leg\":-0.5"), line)
    assert(line.contains("\"failed_queries\":\"g_failed_leg\""), line)
    assert(line.contains("\"failed_legs_per_pass\":\"1/1\""), line)
    assert(!line.contains("query_leg_protocol"))
    // the slowest legs stay, the cheapest go
    assert(line.contains("\"g_oracle_query_leg_97\":9.7"))
    assert(!line.contains("\"g_oracle_query_leg_01\""))
    // value totals every successful leg, elided or not
    assert(line.contains("\"value\":%.2f,".format(ok.map(_._2).sum)), line)
  }

  test("stdout line: nothing is elided when every leg fits") {
    val results = Seq("a" -> 1.0, "b" -> -2.0, "c" -> 3.0)
    val line = Bench.stdoutLine("sf", results, Seq("failed_queries" -> "b"))
    assert(!line.contains("queries_elided"))
    assert(line.contains("\"queries\":{\"a\":1.0,\"b\":-2.0,\"c\":3.0}"), line)
    assert(line.contains("\"value\":4.00,"), line)
  }
}
