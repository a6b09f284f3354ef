package graft.queries

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, Tables}

/** s03 end to end: the mapGroupsWithState drain over the events stream,
  * with the partition-local pre-fold, must land on the batch per-type
  * totals — count(*) and the Long-micros sum, the semantics of s03's
  * oracle SQL. [[TypeFoldPropSpec]] pins the fold itself; this pins the
  * drain that carries it across micro-batches and state stores, under the
  * default state-store provider and under RocksDB.
  */
class StatefulTotalsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("stateful-totals-spec")
  private val sfDir = "/root/testdata/sf0.001"

  private def assertS03Exact(s: SparkSession): Unit = {
    val got = StreamingQueries.queries("s03_stateful_running_totals")(s, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = Tables.events(s, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1e6, 0).cast("long")).as("micros"))
      .select(col("event_type"), col("n"),
        round(col("micros") / 1e6, 6).as("sum_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("s03 drain equals the batch per-type count and micros sum") {
    assertS03Exact(spark)
  }

  test("a SparkConf state-store provider reaches the drain child; s03 exact under RocksDB") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // the provider is Spark's own key in the SparkConf the context starts
    // with — set here as a `-Dspark.…` system property, as GRAFT_JAVA_OPTS
    // passes it to a forked run — so no earlier session may be reused
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    sys.props(key) = rocksDb
    val rocks = try GraftSession.get("stateful-totals-rocksdb-spec")
      finally sys.props -= key
    try {
      assert(rocks.sparkContext.getConf.get(key) == rocksDb)
      assert(GraftSession.child(rocks, "stateful-totals-probe").conf.get(key) == rocksDb)
      // progress events reach the context's bus from every session; only
      // the RocksDB provider reports `rocksdb*` custom state metrics
      val rocksDbState = new AtomicBoolean(false)
      rocks.sparkContext.addSparkListener(new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case p: QueryProgressEvent if p.progress.stateOperators.exists(
              _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))) =>
            rocksDbState.set(true)
          case _ => ()
        }
      })
      assertS03Exact(rocks)
      // the listener bus is asynchronous: give it a bounded wait
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!rocksDbState.get() && System.nanoTime() < deadline) Thread.sleep(50)
      assert(rocksDbState.get(), "the s03 drain did not run on the RocksDB provider")
    } finally rocks.stop()
  }
}
