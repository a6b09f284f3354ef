package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The variant table against the pipelines it replaced: for every variant,
  * [[CawdEngine.dedupStats]] equals the chunker + status + stats
  * composition written out by hand, leaves nothing cached, and (flat
  * variants) grows a signature store under the first batch-mode id.
  */
class VariantSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.get("variant-spec")
  private var dir: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("variant-spec").toString
    val df = spark.range(0, 20000).select(
      col("id"),
      (col("id") % 13).cast("double").as("d"),
      concat(lit("text-"), col("id") % 97).as("s"))
    def single(out: String, name: String, write: String => Unit): Unit = {
      write(out)
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(name.dropWhile(_ != '.')))
        .get
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, name))
    }
    val work = Files.createTempDirectory("variant-spec-src").toString
    single(s"$work/orc", "t.orc", df.orderBy("id").coalesce(1).write
      .option("compression", "zlib").option("orc.stripe.size", "65536").orc(_))
    single(s"$work/pq", "t.parquet", df.orderBy("id").coalesce(1).write.parquet(_))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val timing = Seq(Metric.TransferTime, Metric.ParsingOverhead)

  private def rows(stats: DataFrame): Seq[Row] =
    stats.filter(!col("metric").isin(timing: _*)).collect().toSeq.sortBy(_.toString)

  /** Chunker, dedupable set, threshold, status function and emitSizes of
    * each variant, as the pipelines before the table composed them.
    */
  private case class Parent(suffix: String,
                            chunk: Seq[(String, Int)] => Dataset[FileChunk],
                            status: DataFrame => DataFrame, emitSizes: Boolean)

  private lazy val parent: Map[Variant, Parent] = Map(
    Variant.OrcNaive -> Parent(".orc",
      CawdEngine.chunkFiles(spark, _, CawdEngine.Orc, OrcChunker.Naive),
      Dedup.flatStatus(_, ChunkType.naiveOrcDedupable, 0L), emitSizes = false),
    Variant.OrcColumn -> Parent(".orc",
      CawdEngine.chunkFiles(spark, _, CawdEngine.Orc, OrcChunker.ColumnBased),
      Dedup.flatStatus(_, ChunkType.columnOrcDedupable, 50L), emitSizes = false),
    Variant.OrcSp -> Parent(".orc",
      CawdEngine.chunkFiles(spark, _, CawdEngine.Orc, OrcChunker.StripeColumn),
      Dedup.hierarchicalStatus(_), emitSizes = true),
    Variant.Parquet -> Parent(".parquet",
      CawdEngine.chunkFiles(spark, _, CawdEngine.Parquet),
      Dedup.flatStatus(_, ChunkType.parquetDedupable, 0L), emitSizes = false),
    Variant.Cdc -> Parent("",
      CdcChunker.chunkFiles(spark, _),
      Dedup.flatStatus(_, ChunkType.cdcDedupable, 0L), emitSizes = false))

  private def expected(v: Variant, duplicate: Boolean): Seq[Row] = {
    val p = parent(v)
    val base = p.chunk(CawdEngine.listFiles(dir, p.suffix))
    val chunks = if (duplicate) CawdEngine.withDuplicates(base) else base
    rows(Stats.rollup(Stats.fromStatus(p.status(chunks.toDF()), p.emitSizes)))
  }

  /** `dedupStats` on a cleared cache, asserting the call leaves none behind. */
  private def dedupStats(v: Variant, duplicate: Boolean,
                         storeDir: Option[String] = None): Seq[Row] = {
    spark.catalog.clearCache()
    try rows(CawdEngine.dedupStats(spark, v,
      CawdEngine.listFiles(dir, v.suffix), duplicate, storeDir))
    finally assert(spark.sharedState.cacheManager.isEmpty,
      s"${v.name}: dedupStats left a cached relation behind")
  }

  test("every variant's dedupStats equals its written-out composition") {
    assert(CawdEngine.listFiles(dir, ".orc").nonEmpty)
    assert(OrcChunker.plan(CawdEngine.listFiles(dir, ".orc").head._1, 0, OrcChunker.Naive)
      .count(_.chunkType == ChunkType.StripeData) > 1, "expected a multi-stripe ORC file")
    for (v <- Variant.all; duplicate <- Seq(false, true)) {
      val got = dedupStats(v, duplicate)
      assert(got.nonEmpty)
      assert(got == expected(v, duplicate), s"${v.name} duplicate=$duplicate")
    }
  }

  test("flat variants grow a store under batch=-1; orc-sp rejects a store") {
    val misses = Set(Metric.StripeMiss, Metric.ColumnMiss, Metric.FooterMiss, "ChunkMiss")
    for (v <- Variant.all.collect { case f: Variant.Flat => f }) {
      val store = Files.createTempDirectory(s"variant-store-${v.name}").toString
      val got = dedupStats(v, duplicate = true, Some(store))
      assert(got == expected(v, duplicate = true), v.name)
      assert(new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq ==
        Seq("batch=-1"), v.name)
      // one store row per first occurrence: the run's global miss count
      val missed = got.filter(r => r.getAs[String]("file") == "general" &&
        misses(r.getAs[String]("metric"))).map(_.getAs[Double]("value")).sum
      assert(missed > 0 && spark.read.parquet(store).count() == missed.toLong, v.name)
    }
    val store = Files.createTempDirectory("variant-store-sp").toString
    intercept[IllegalArgumentException](
      dedupStats(Variant.OrcSp, duplicate = false, Some(store)))
  }

  test("byName resolves the five CLI modes and nothing else") {
    Seq("orc-naive", "orc-column", "orc-sp", "parquet", "cdc").foreach { n =>
      assert(Variant.byName(n).map(_.name).contains(n))
    }
    assert(Variant.byName("plain").isEmpty && Variant.byName("orc").isEmpty)
  }
}
