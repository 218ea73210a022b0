package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_QUERIES parsing shared by Bench, Verify, Explain and
  * ScaleTax.
  */
class SelectQueriesSpec extends AnyFunSuite {

  test("known names select exactly those entries") {
    assert(SparkEntry.selectQueries(Some(" d_event, stream_dedup ")).keySet ==
      Set("d_event", "stream_dedup"))
    assert(SparkEntry.selectQueries(None).keySet == SparkEntry.queries.keySet)
  }

  test("an unknown name fails and lists every unknown name") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.selectQueries(Some("d_event,stream_dedupp,no_such_query"))
    }
    assert(err.getMessage.contains("no_such_query"), err.getMessage)
    assert(err.getMessage.contains("stream_dedupp"), err.getMessage)
    assert(!err.getMessage.contains("d_event"), err.getMessage)
  }
}
