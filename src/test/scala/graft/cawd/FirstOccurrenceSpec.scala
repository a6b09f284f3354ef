package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** [[Dedup.markFirstOccurrence]] on a hot signature: one signature on 100k
  * rows across 50 files, three of them tied at the first (fileRank,
  * parentSeq) key — the column probes of one stripe.
  */
class FirstOccurrenceSpec extends AnyFunSuite {

  test("a hot signature: exactly the tied first rows miss, and a store holding it hits all") {
    val spark: SparkSession = GraftSession.get("first-occurrence-spec")
    import spark.implicits._
    val sig = Sha1.of("zero-filled".getBytes("UTF-8"))
    val chunks = spark.range(0, 100000).select(
      concat(lit("f"), (col("id") / 2000).cast("int")).as("file"),
      (col("id") / 2000).cast("int").as("fileRank"),
      (col("id") % 2000).cast("int").as("seq"),
      // rows 0-2 are three columns of one stripe: tied at (0, 0)
      when(col("id") < 3, lit(0)).otherwise(col("id") % 2000).cast("int").as("parentSeq"),
      lit(ChunkType.Column).as("chunkType"),
      lit(100L).as("size"),
      lit(sig).as("signature"))
    try {
      val cold = Dedup.markFirstOccurrence(chunks, "parentSeq")
      // one pass: no aggregate joined back onto the rows
      val plan = cold.queryExecution.optimizedPlan
      assert(plan.collect { case a: Aggregate => a }.isEmpty &&
        plan.collect { case j: Join => j }.isEmpty, s"expected one window pass:\n$plan")
      val misses = cold.filter(col("status") === "miss")
        .select("file", "seq").as[(String, Int)].collect().toSet
      assert(misses == Set(("f0", 0), ("f0", 1), ("f0", 2)))
      assert(cold.count() == 100000L)

      val store = Files.createTempDirectory("first-occurrence-store").toString
      StreamingEngine.writeStorePartition(
        Seq((sig, ChunkType.Column, 100L)).toDF("signature", "chunkType", "size"),
        s"$store/batch=0")
      val warm = Dedup.markFirstOccurrence(chunks, "parentSeq",
        StreamingEngine.readStore(spark, store))
      assert(warm.filter(col("status") === "miss").count() == 0L)
      assert(warm.filter(col("status") === "hit").count() == 100000L)
    } finally spark.stop()
  }
}
