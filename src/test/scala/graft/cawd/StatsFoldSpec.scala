package graft.cawd

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The one stats aggregate of [[CawdEngine.dedupStats]] against the two it
  * replaced: [[Stats.fromStatus]] over status and timing rows together
  * gives the same rollup, timing rows included, as [[Stats.fromStatus]]
  * over the status unioned with [[CawdEngine.timingStats]]; and the
  * rollup's one array `percentile` gives the three single ones.
  */
class StatsFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.get("stats-fold-spec")
  private var dir: String = _

  override def beforeAll(): Unit = dir = VariantFixture.write(spark, "stats-fold-spec")

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("fromStatus over status and timing rows equals fromStatus plus timingStats") {
    for (v <- Variant.all; duplicate <- Seq(false, true)) {
      // one cached chunk relation: both sides read the same timing values
      val base = v.chunk(spark, CawdEngine.listFiles(dir, v.suffix)).cache()
      try {
        val chunks = if (duplicate) CawdEngine.withDuplicates(base) else base
        val status = v.status(chunks.toDF())
        val timing = chunks.toDF().filter(col("parentSeq") === -2)
          .withColumn("status", lit(null).cast("string"))
        val folded = sorted(Stats.rollup(
          Stats.fromStatus(status.unionByName(timing), v.emitSizes)))
        val unioned = sorted(Stats.rollup(
          Stats.fromStatus(status, v.emitSizes).unionByName(CawdEngine.timingStats(chunks))))
        val what = s"${v.name} duplicate=$duplicate"
        // the structural chunkers emit timing rows, the CDC chunker none
        val timed = Seq(Metric.TransferTime, Metric.ParsingOverhead)
          .forall(m => folded.exists(_.getAs[String]("metric") == m))
        assert(timed == !v.isInstanceOf[Variant.Cdc.type], what)
        assert(folded == unioned, what)
      } finally base.unpersist(blocking = true)
    }
  }

  test("the array percentile equals three single percentiles on tied doubles") {
    import spark.implicits._
    // per file: repeated values, a single value, an even count
    val values = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 2.0),
      ("a", 7.5), ("b", 3.0), ("c", 0.5), ("c", 0.5), ("c", 4.0), ("c", 9.0))
    val metrics = values.toDF("file", "value")
      .select(col("file"), lit("M").as("metric"), col("value"), lit("Count").as("unit"))
    def single(g: RelationalGroupedDataset): DataFrame = g.agg(
      round(percentile(col("value"), lit(0.25)), 6).as("p25"),
      round(percentile(col("value"), lit(0.5)), 6).as("p50"),
      round(percentile(col("value"), lit(0.75)), 6).as("p75"))
    val expected = sorted(
      single(metrics.groupBy(col("file"))).unionByName(
        single(metrics.groupBy()).select(lit("general").as("file"), col("*"))))
    val got = sorted(Stats.rollup(metrics).select("file", "p25", "p50", "p75"))
    assert(got == expected)
    assert(got.map(_.getDouble(2)).distinct.length > 1)
  }
}
