package graft

/** `Bench` times successful runs only: a query that throws is a failure,
  * not a fast result. */
class BenchSpec extends GraftSuite {

  test("a query that throws is not timed; one failed rep fails the query") {
    val ok = Bench.timeOnce(spark, sf, "ok", (s, d) => Tables.events(s, d).limit(5))
    assert(ok.exists(_ >= 0.0))
    val broken = Bench.timeOnce(spark, sf, "broken", (s, d) => s.read.parquet(s"$d/no_such_table.parquet"))
    assert(broken.isEmpty)
    val times = Iterator(Some(2.0), None, Some(1.0))
    assert(Bench.bestOf(3)(times.next()).isEmpty)
    assert(Bench.bestOf(3)(Some(1.5)).contains(1.5))
  }
}
