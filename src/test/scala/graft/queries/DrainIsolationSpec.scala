package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, Tables}

/** Two packaged queries share one session from two threads: the s03 drain
  * and q04. The drain runs on its own child session, so the caller's
  * session conf never changes while it runs, and each query returns what
  * it returns alone.
  */
class DrainIsolationSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("drain-isolation-spec")
  private val sfDir = "/root/testdata/sf0.001"
  private val sampledKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointLocation")

  test("s03 drain beside q04 leaves the caller's conf untouched; outputs match solo runs") {
    val q04 = RelationalQueries.queries("q04_revenue_by_nation")
    val s03 = StreamingQueries.queries("s03_stateful_running_totals")
    def confNow: Seq[Option[String]] = sampledKeys.map(spark.conf.getOption)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    val q04Alone = rows(q04(spark, sfDir))
    // StatefulTotalsSpec's batch reference: per-type count and micros sum
    val s03Batch = rows(Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1e6, 0).cast("long")).as("micros"))
      .select(col("event_type"), col("n"),
        round(col("micros") / 1e6, 6).as("sum_value")))
    val before = confNow

    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val draining = new AtomicBoolean(true)
      val samples = new ConcurrentLinkedQueue[Seq[Option[String]]]()
      val sampler = Future {
        while (draining.get()) { samples.add(confNow); Thread.sleep(1) }
      }
      val drain = Future(try rows(s03(spark, sfDir)) finally draining.set(false))
      val join = Future(rows(q04(spark, sfDir)))
      val s03Got = Await.result(drain, 5.minutes)
      val q04Got = Await.result(join, 5.minutes)
      Await.result(sampler, 1.minute)

      assert(!samples.isEmpty)
      val firstChange = samples.asScala.find(_ != before)
      assert(firstChange.isEmpty, s"caller conf before the drain: $before")
      assert(confNow == before)
      assert(s03Batch.nonEmpty && s03Got == s03Batch)
      assert(q04Alone.nonEmpty && q04Got == q04Alone)
    } finally pool.shutdownNow()
  }
}
