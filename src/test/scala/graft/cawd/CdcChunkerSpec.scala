package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Content-defined chunking baseline: boundary invariants,
  * segmentation-independence of the two-stage candidate scan, and warm-copy
  * dedup parity (a byte-identical copy dedups 100% of its bytes — CDC has
  * no raw/regular chunk classes).
  */
class CdcChunkerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.get("cdc-spec")
  private var dir: String = _
  private var path: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("cdc-spec").toString
    // ~1 MB of compressible-but-varied bytes via a parquet write
    val df = spark.range(0, 60000).select(
      col("id"),
      sha2(concat(lit("x"), col("id")), 256).as("s"),
      (col("id") % 97).cast("double").as("d"))
    df.orderBy("id").coalesce(1).write.mode("overwrite").parquet(s"$dir/pq")
    path = new java.io.File(s"$dir/pq").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("chunk cover is contiguous with min/max bounds respected") {
    val chunks = CdcChunker.chunkFiles(spark, Seq((path, 0))).collect()
      .sortBy(_.seq)
    val len = new java.io.File(path).length()
    assert(chunks.head.start == 0)
    chunks.sliding(2).foreach {
      case Array(a, b) => assert(a.start + a.size == b.start)
      case _ =>
    }
    assert(chunks.map(_.size).sum == len)
    assert(chunks.forall(_.size <= CdcChunker.MaxSize))
    // every chunk except the tail honors the minimum
    assert(chunks.dropRight(1).forall(_.size >= CdcChunker.MinSize))
    // avg-size mask should produce "many" chunks on ~1 MB
    assert(chunks.length > len / CdcChunker.MaxSize)
  }

  test("candidates are independent of segmentation") {
    val len = new java.io.File(path).length()
    val whole = CdcChunker.candidatesInSegment(path, 0, len)
    val seg = 100 * 1024L
    val split = (0L until len by seg).flatMap { s =>
      CdcChunker.candidatesInSegment(path, s, math.min(s + seg, len))
    }
    assert(whole == split.sorted)
    assert(whole.nonEmpty, "fixture should produce candidates")
  }

  test("selectCuts honors min/max and forces cuts in candidate deserts") {
    // no candidates at all: forced cuts every MaxSize
    val forced = CdcChunker.selectCuts(Nil, CdcChunker.MaxSize * 3 + 10)
    assert(forced == Seq(CdcChunker.MaxSize, 2 * CdcChunker.MaxSize,
      3 * CdcChunker.MaxSize, 3 * CdcChunker.MaxSize + 10))
    // candidate below min is skipped; next valid one is taken
    val cuts = CdcChunker.selectCuts(
      Seq(100L, CdcChunker.MinSize + 5), CdcChunker.MaxSize)
    assert(cuts.head == CdcChunker.MinSize + 5)
  }

  test("warm byte-identical copy dedups 100% of its bytes") {
    val chunks = CawdEngine.withDuplicates(
      CdcChunker.chunkFiles(spark, Seq((path, 0))))
    val status = Dedup.flatStatus(chunks.toDF(), ChunkType.cdcDedupable)
    val stats = Stats.fromStatus(status)
      .filter(col("file").endsWith("+copy"))
      .groupBy(col("metric")).agg(sum(col("value")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val len = new java.io.File(path).length().toDouble
    assert(stats("DedupBytes") == len, "every copy byte deduped")
    assert(stats("TransferBytes") == 0.0)
  }

  test("content mode reconstructs the file byte-identically") {
    val check = RestoreCheck(
      CdcChunker.chunkFiles(spark, Seq((path, 0)), withContent = true))
    assert(check.length == 1)
    assert(check.head._4, "CDC chunk concatenation == original bytes")
  }

  test("chunking is deterministic across runs") {
    def sigs() = CdcChunker.chunkFiles(spark, Seq((path, 0))).collect()
      .sortBy(_.seq).map(c => c.start -> c.signature.toSeq).toSeq
    assert(sigs() == sigs())
  }
}
