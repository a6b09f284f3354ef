package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry}
import graft.cawd._

/** The c-pack dedup rows are the library composition: each row's output
  * equals chunk → byte-identical copies (warm rows) → status → basename →
  * per-file stats → rollup, written out by hand, and a row called through
  * [[SparkEntry.queries]] leaves no cached relation behind.
  */
class CawdRowSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** (query, variant, files followed by copies); ORC variants read the
    * ORC fixtures, the others the corpus.
    */
  private val rows: Seq[(String, Variant, Boolean)] = Seq(
    ("c02_parquet_dedup_cold", Variant.Parquet, false),
    ("c03_parquet_dedup_warm", Variant.Parquet, true),
    ("c04_orc_naive_dedup_warm", Variant.OrcNaive, true),
    ("c05_orc_sp_cascade_warm", Variant.OrcSp, true),
    ("c08_orc_column_dedup_warm", Variant.OrcColumn, true),
    ("c09_cdc_dedup_warm", Variant.Cdc, true))

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def expected(spark: SparkSession, v: Variant, srcDir: String,
                       duplicate: Boolean): Seq[Row] = {
    val base = v.chunk(spark, CawdEngine.listFiles(srcDir, v.suffix))
    val chunks = if (duplicate) CawdEngine.withDuplicates(base) else base
    val status = v.status(chunks.toDF())
      .withColumn("file", regexp_replace(col("file"), ".*/", ""))
    sorted(Stats.rollup(Stats.fromStatus(status, v.emitSizes)))
  }

  test("c-rows equal the written-out composition and leave nothing cached") {
    val spark = GraftSession.get("cawd-row-spec")
    val cache = spark.sharedState.cacheManager
    try for ((name, v, duplicate) <- rows) {
      spark.catalog.clearCache()
      val got = sorted(SparkEntry.queries(name)(spark, sfDir))
      assert(cache.isEmpty, s"$name left a cached relation behind")
      val srcDir =
        if (v.suffix == ".orc") CawdQueries.ensureOrcFixtures(spark, sfDir) else sfDir
      assert(got.nonEmpty, name)
      assert(got == expected(spark, v, srcDir, duplicate), name)
    } finally spark.stop()
  }
}
