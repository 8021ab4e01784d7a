package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends GraftSuite {

  test("salted count/sum equals the direct aggregate") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedCountSum(ev, "event_type", "value")
      .select(col("event_type"), col("n"), round(col("sum_value"), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("salted plan spreads one key over many shards before the final shuffle") {
    val plan = Skew.saltedCountSum(Tables.events(spark, sf), "event_type", "value")
      .queryExecution.executedPlan.toString
    // two-phase shape: an exchange on (key, shard) precedes the exchange on key
    assert("Exchange hashpartitioning".r.findAllIn(plan).length >= 2, plan)
  }
}
