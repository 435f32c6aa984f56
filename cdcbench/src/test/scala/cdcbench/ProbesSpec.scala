package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class ProbesSpec extends AnyFunSuite {
  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Trace.Span(1, "run", 0, "t", 0, 100000000L),
      Trace.Span(2, "a", 1, "t", 10000000L, 40000000L),
      Trace.Span(3, "b", 1, "t", 30000000L, 60000000L), // overlaps a
      Trace.Span(4, "a", 1, "t", 90000000L, 120000000L)) // ends after run
    val self = Trace.selfMs(spans)
    assert(self("run") == 100.0 - 50.0 - 10.0)
    assert(self("a") == 60.0)
    assert(self("b") == 30.0)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.p50(xs) == 5.0)
    assert(Stats.pct(xs, 0.9) == 9.0)
    assert(Stats.p50(Nil) == 0.0)
  }

  test("the optimizer's Max iterations warning is counted") {
    MaxIterations.install()
    val before = MaxIterations.count.get
    org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.SparkOptimizer")
      .warn("Max iterations (100) reached for batch Operator Optimization")
    assert(MaxIterations.count.get == before + 1)
  }
}
