package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, Tables}

/** s03 end to end: the mapGroupsWithState drain over the events stream,
  * with the partition-local pre-fold, must land on the batch per-type
  * totals — count(*) and the Long-micros sum, the semantics of s03's
  * oracle SQL. [[TypeFoldPropSpec]] pins the fold itself; this pins the
  * drain that carries it across micro-batches and state stores.
  */
class StatefulTotalsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("stateful-totals-spec")
  private val sfDir = "/root/testdata/sf0.001"

  test("s03 drain equals the batch per-type count and micros sum") {
    val got = StreamingQueries.queries("s03_stateful_running_totals")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1e6, 0).cast("long")).as("micros"))
      .select(col("event_type"), col("n"),
        round(col("micros") / 1e6, 6).as("sum_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }
}
