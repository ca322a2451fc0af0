package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s one-line record: a query that throws must show up as
  * a failure in the line itself, never as a shorter total. */
class BenchSpec extends AnyFunSuite {
  test("failed queries are named with their exception class and counted in the line") {
    val line = Bench.summaryLine(Seq(
      Bench.Outcome("a_ok", 1.5, None),
      Bench.Outcome("b_bad", -1.0, Some("org.apache.spark.SparkException")),
      Bench.Outcome("c_ok", 0.25, None)), 3, "/data/sf0.1", "0.1,0.2,0.3", "0.4,0.5,0.6",
      sweep = false)
    assert(line.startsWith("""{"metric":"total","value":1.750,"unit":"sec","""), line)
    assert(line.contains(""""queries":{"a_ok":1.500,"b_bad":-1.000,"c_ok":0.250}"""), line)
    assert(line.endsWith(""","failed_count":1,"failed":{"b_bad":"org.apache.spark.SparkException"}}"""),
      line)
    val clean = Bench.summaryLine(Seq(Bench.Outcome("a_ok", 1.5, None)), 3, "d", "", "",
      sweep = false)
    assert(clean.endsWith(""","failed_count":0,"failed":{}}"""), clean)
  }
}
