package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Cross-batch state: a file arriving in a later micro-batch must dedup
  * against chunks stored by earlier batches (the reference's monotonically
  * growing server store, SURVEY.md §2.8).
  */
class StreamingSpec extends AnyFunSuite {

  test("streaming dedup holds chunk-store state across micro-batches") {
    val spark = GraftSession.get("streaming-spec")
    val root = Files.createTempDirectory("stream-spec").toString
    val inDir = s"$root/in"; new java.io.File(inDir).mkdirs()
    val store = s"$root/store"; val stats = s"$root/stats"; val ckpt = s"$root/ckpt"

    val df = spark.range(0, 2000).select(col("id"),
      concat(lit("v-"), col("id") % 50).as("s"))
    df.coalesce(1).write.mode("overwrite").parquet(s"$root/src")
    val src = new java.io.File(s"$root/src").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get

    // wave 1
    java.nio.file.Files.copy(src.toPath, new java.io.File(inDir, "a.parquet").toPath)
    StreamingEngine.start(spark, inDir, store, stats, ".parquet",
      CawdEngine.Parquet, ckpt).awaitTermination()
    // wave 2: byte-identical copy, new batch
    java.nio.file.Files.copy(src.toPath, new java.io.File(inDir, "b.parquet").toPath)
    StreamingEngine.start(spark, inDir, store, stats, ".parquet",
      CawdEngine.Parquet, ckpt).awaitTermination()

    val rows = spark.read.parquet(stats)
    val byBatchFile = rows.filter(col("metric") === "DedupBytes")
      .select("file", "value", "batch_id").collect()
      .map(r => (r.getString(0).replaceAll(".*/", ""), r.getDouble(1))).toMap
    // wave-2 file deduped against wave-1's store entries
    assert(byBatchFile("b.parquet") > 0.0, "cross-batch dedup must hit")
    // wave-1 cold file has no hits (single file, distinct pages)
    val aTransfer = rows.filter(col("metric") === "TransferBytes" &&
      col("file").endsWith("a.parquet")).select("value").head().getDouble(0)
    val bTransfer = rows.filter(col("metric") === "TransferBytes" &&
      col("file").endsWith("b.parquet")).select("value").head().getDouble(0)
    assert(bTransfer < aTransfer, "warm transfer moves fewer bytes than cold")

    // store holds each signature once
    val storeDf = spark.read.parquet(store)
    assert(storeDf.count() == storeDf.select("signature").distinct().count())

    // store partitions are signature-bucketed (batch=N/sbucket=K), and the
    // probe broadcasts the batch's signatures against the pruned store scan
    // instead of shuffling the store
    assert(new java.io.File(store, "batch=0").listFiles()
      .exists(_.getName.startsWith("sbucket=")),
      "store partitions bucketed by signature")
    val probeChunks = CawdEngine.chunkFiles(spark,
      Seq((s"$inDir/b.parquet", 0)), CawdEngine.Parquet, OrcChunker.Naive).toDF()
    val probePlan = Dedup.markFirstOccurrence(probeChunks, "seq",
      StreamingEngine.readStore(spark, store)).queryExecution.executedPlan.toString
    assert(probePlan.contains("BroadcastExchange"),
      s"store probe must broadcast the batch signature set, got:\n$probePlan")

    // retry idempotency: replaying the LAST batch (as after a partial
    // failure) must leave store contents and stats byte-for-byte unchanged
    val lastBatch = spark.read.parquet(stats)
      .agg(max(col("batch_id"))).head().getInt(0).toLong
    def storeSnapshot() = spark.read.parquet(store)
      .select(hex(col("signature")), col("chunkType"), col("size"), col("batch"))
      .collect().map(_.toString).sorted
    val statsBefore = spark.read.parquet(stats).collect().map(_.toString).sorted
    val storeBefore = storeSnapshot()
    import spark.implicits._
    val replay = Seq(s"file:$inDir/b.parquet").toDF("path")
    StreamingEngine.processBatch(spark, replay, lastBatch, store, stats,
      CawdEngine.Parquet)
    assert(spark.read.parquet(stats).collect().map(_.toString).sorted
      .sameElements(statsBefore), "stats double-counted on batch retry")
    assert(storeSnapshot().sameElements(storeBefore), "store changed on batch retry")

    // batch-mode incremental API shares the same store: a CLI-style run
    // over an already-seen file must dedup everything dedupable, under a
    // NEGATIVE partition id the streaming sequence can never collide with
    val batchStats = CawdEngine.dedupStats(spark, Variant.Parquet,
      Seq((s"$inDir/b.parquet", 0)), storeDir = Some(store))
    val dd = batchStats
      .filter(col("metric") === "DedupBytes" && col("file") =!= "general")
      .select("value").head().getDouble(0)
    assert(dd > 0.0, "incremental batch run dedups against the shared store")
    assert(new java.io.File(store, "batch=-1").isDirectory,
      "batch-mode partition id is negative")
    assert(StreamingEngine.nextBatchId(spark, store) == lastBatch + 1,
      "streaming id sequence unaffected by batch-mode appends")

    // compaction: newest partition untouched (a stream may be retrying
    // exactly that batch), everything older merges into the second-newest;
    // signature set preserved; a post-compaction wave still dedups
    val sigsBefore = spark.read.parquet(store)
      .select(hex(col("signature"))).collect().map(_.getString(0)).distinct.sorted
    StreamingEngine.compactStore(spark, store)
    val partsAfter = new java.io.File(store).listFiles()
      .count(_.getName.startsWith("batch="))
    assert(partsAfter == 2, "compaction leaves newest + merged partitions")
    val sigsAfter = spark.read.parquet(store)
      .select(hex(col("signature"))).collect().map(_.getString(0)).distinct.sorted
    assert(sigsAfter.sameElements(sigsBefore), "compaction preserves signatures")
    assert(StreamingEngine.nextBatchId(spark, store) == lastBatch + 1)
    java.nio.file.Files.copy(src.toPath, new java.io.File(inDir, "c.parquet").toPath)
    StreamingEngine.start(spark, inDir, store, stats, ".parquet",
      CawdEngine.Parquet, ckpt).awaitTermination()
    val cDedup = spark.read.parquet(stats)
      .filter(col("metric") === "DedupBytes" && col("file").endsWith("c.parquet"))
      .select("value").head().getDouble(0)
    assert(cDedup > 0.0, "post-compaction wave must still dedup against the store")
    spark.stop()
  }

  test("large backfill plans on the backfill child (AQE on) and clusters " +
    "its store write") {
    val spark = GraftSession.get("backfill-spec")
    import spark.implicits._
    val root = Files.createTempDirectory("backfill-spec").toString
    val inDir = s"$root/in"; new java.io.File(inDir).mkdirs()
    val store = s"$root/store"; val stats = s"$root/stats"
    // three distinct small parquet files
    (0 until 3).foreach { i =>
      spark.range(i * 1000, i * 1000 + 500).select(col("id"),
        concat(lit(s"w$i-"), col("id")).as("s"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/src$i")
      val f = new java.io.File(s"$root/src$i").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath, new java.io.File(inDir, s"f$i.parquet").toPath)
    }
    val paths = new java.io.File(inDir).listFiles().map(f => s"file:${f.getAbsolutePath}")
    graft.StreamingPlanCapture.enabled = true
    try {
      // small branch first (f0 only): latency posture, no AdaptiveSparkPlan
      graft.StreamingPlanCapture.reset()
      StreamingEngine.processBatch(spark,
        paths.filter(_.endsWith("f0.parquet")).toSeq.toDF("path"), 0L,
        store, stats, CawdEngine.Parquet)
      val smallPlans = graft.StreamingPlanCapture.all.map(_._2).mkString("\n")
      assert(!smallPlans.contains("AdaptiveSparkPlan"),
        "micro-batch latency path must plan AQE-off")
      // large branch: force the backfill path over all 3 files — f0's
      // chunks hit batch 0's store (dedup observed), f1/f2 miss (a
      // non-empty clustered store write to assert on). The
      // whole chunk/probe/write pipeline must plan on the backfill child
      // (AQE ON) — round-8 advice: building `ranked` from the incoming
      // batch's lineage left everything on the latency child's SQLConf.
      graft.StreamingPlanCapture.reset()
      StreamingEngine.processBatch(spark, paths.toSeq.toDF("path"), 1L,
        store, stats, CawdEngine.Parquet, maxRankFiles = 2)
      val bigPlans = graft.StreamingPlanCapture.all.map(_._2).mkString("\n")
      assert(bigPlans.contains("AdaptiveSparkPlan"),
        "backfill batch must plan on the AQE-on backfill child")
      // identical dedup semantics on both branches: batch 1 re-saw batch
      // 0's bytes, so every dedupable chunk hits
      val s = spark.read.parquet(stats)
      assert(s.filter(col("batch_id") === 1 && col("metric") === "DedupBytes")
        .agg(sum("value")).head().getDouble(0) > 0.0,
        "backfill branch must still dedup against the store")
      // clustered write: each sbucket dir of the backfill's store partition
      // holds exactly ONE data file (no tasks × buckets fan-out)
      val bdir = new java.io.File(store, "batch=1")
      if (bdir.isDirectory) {
        val perBucket = bdir.listFiles().filter(_.getName.startsWith("sbucket="))
          .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
        assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
          s"clustered backfill write must land one file per bucket, got ${perBucket.toSeq}")
      }
    } finally {
      graft.StreamingPlanCapture.enabled = false
      graft.StreamingPlanCapture.reset()
      spark.stop()
    }
  }

  test("retention evicts old batches; retained signatures still hit") {
    val spark = GraftSession.get("streaming-retain-spec")
    import spark.implicits._
    val store = Files.createTempDirectory("retain-spec").toString
    def sig(i: Int): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-1").digest(s"s$i".getBytes)
    def part(b: Long, is: Seq[Int]): Unit =
      StreamingEngine.writeStorePartition(
        is.map(i => (sig(i), "DataPageV1", 10L)).toDF("signature", "chunkType", "size"),
        s"$store/batch=$b")
    part(0, Seq(1, 2)); part(1, Seq(3, 4)); part(2, Seq(5))

    StreamingEngine.retainStore(store, keepBatches = 2)
    assert(!new java.io.File(store, "batch=0").exists(), "oldest batch evicted")
    assert(new java.io.File(store, "batch=1").isDirectory)
    assert(new java.io.File(store, "batch=2").isDirectory)

    // probe semantics survive: retained signatures still hit; evicted ones
    // miss (and would be re-learned), which is retention's contract
    val probe = (1 to 5).map(i => ("f", 0, i, sig(i)))
      .toDF("file", "fileRank", "seq", "signature")
    val marked = Dedup.markFirstOccurrence(probe, "seq",
      StreamingEngine.readStore(spark, store))
    val status = marked.select(col("seq"), col("status")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(status(1) == "miss" && status(2) == "miss", "evicted signatures miss")
    assert(Seq(3, 4, 5).forall(status(_) == "hit"), "retained signatures hit")

    // age-based eviction never touches the newest partition (a stream may
    // be mid-retry on exactly that id)
    StreamingEngine.retainStore(store, maxAgeMs = 0L)
    assert(!new java.io.File(store, "batch=1").exists(), "aged-out batch evicted")
    assert(new java.io.File(store, "batch=2").isDirectory, "newest never evicted")
  }
}
