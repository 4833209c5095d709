package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleIndex]]'s reading of Bench's JSON and its per-query exponent. */
class ScaleIndexSpec extends AnyFunSuite {

  test("exponents: e = log(t_b/t_a) / log(row ratio)") {
    val rows = ScaleIndex.exponents(
      Map("q_a" -> Some(0.5), "q_b" -> Some(2.0)),
      Map("q_a" -> Some(5.0), "q_b" -> Some(2.0)), 10.0)
    assert(rows.map(_._1) == Seq("q_a", "q_b"))
    val Some((ta, tb, e)) = rows.head._2
    assert((ta, tb) == ((0.5, 5.0)))
    assert(math.abs(e - 1.0) < 1e-12)
    assert(math.abs(rows(1)._2.get._3) < 1e-12)
    // a 4x row ratio with 16x the time reads as quadratic
    val Seq((_, Some((_, _, e2)))) = ScaleIndex.exponents(
      Map("q" -> Some(1.0)), Map("q" -> Some(16.0)), 4.0)
    assert(math.abs(e2 - 2.0) < 1e-12)
  }

  test("exponents: an errored or one-sided query gives an ERR row") {
    val rows = ScaleIndex.exponents(
      Map("q_ok" -> Some(1.0), "q_null" -> None, "q_only_a" -> Some(1.0)),
      Map("q_ok" -> Some(10.0), "q_null" -> Some(3.0), "q_only_b" -> Some(1.0)),
      10.0).toMap
    assert(rows.keySet == Set("q_ok", "q_null", "q_only_a", "q_only_b"))
    assert(rows("q_ok").isDefined)
    assert(rows("q_null").isEmpty)
    assert(rows("q_only_a").isEmpty)
    assert(rows("q_only_b").isEmpty)
  }

  test("parseBench: the total line of a captured stdout, nulls as errors") {
    val capture = Seq(
      "some log line",
      """{"metric":"total","value":3.0,"queries":{"q_a":1.5,"q_b":null},"errors":{"q_b":"boom"},"sf":"/data/sf1"}""",
      """{"metric":"total_compact","value":3.0,"sf":"/data/sf1"}""",
      """{"metric":"slowest","queries":{"q_a":1.5},"sf":"/data/sf1"}""")
      .mkString("\n")
    val (queries, sfDir) = ScaleIndex.parseBench(capture)
    assert(queries == Map("q_a" -> Some(1.5), "q_b" -> None))
    assert(sfDir == "/data/sf1")
    assert(intercept[RuntimeException](
      ScaleIndex.parseBench("""{"metric":"slowest","queries":{}}""")).getMessage
      .contains("total"))
  }

  test("parseBench: BENCH_FULL.json holds 372 timings") {
    val (queries, sfDir) =
      ScaleIndex.parseBench(Files.readString(Paths.get("BENCH_FULL.json")))
    assert(queries.size == 372)
    assert(queries.values.forall(_.exists(_ > 0)))
    assert(sfDir.endsWith("/sf0.1"))
  }
}
