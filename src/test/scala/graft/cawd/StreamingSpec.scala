package graft.cawd

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Cross-batch state: a file arriving in a later micro-batch must dedup
  * against chunks stored by earlier batches (the reference's monotonically
  * growing server store, SURVEY.md §2.8).
  */
class StreamingSpec extends AnyFunSuite {

  /** The store's non-negative (streaming) `batch=` partition ids. */
  private def streamIds(store: String): Seq[Long] =
    new java.io.File(store).list().toSeq
      .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong }
      .filter(_ >= 0)

  /** Copy `df` as one parquet file to `dest`. */
  private def singleParquet(df: org.apache.spark.sql.DataFrame, work: String,
                            dest: java.io.File): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(work)
    val part = new java.io.File(work).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dest.toPath)
  }

  /** Runs `body` and returns how many write tasks its writes into
    * `store` ran: the result tasks of every job of a SQL execution that
    * inserts into a `store/batch=N` partition.
    */
  private def storeWriteTasks(spark: SparkSession, store: String)(body: => Unit): Int = {
    val writeExecs = ConcurrentHashMap.newKeySet[Long]()
    val writeStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
              x.physicalPlanDescription.contains(s"$store/batch=") =>
          writeExecs.add(x.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .exists(id => writeExecs.contains(id.toLong)))
          e.stageIds.foreach(writeStages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && writeStages.contains(e.stageId))
          tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    tasks.get
  }

  /** A store partition's layout: at most `maxFiles` parquet files, no
    * directory below `batch=N`, and rows sorted by `signature` (unsigned
    * byte order) inside every file.
    */
  private def assertStoreLayout(spark: SparkSession, part: java.io.File,
                                maxFiles: Int): Unit = {
    def tree(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(tree) else Seq(f)
    val files = tree(part).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.length <= maxFiles,
      s"$part: ${files.length} data files, at most $maxFiles expected")
    assert(!part.listFiles().exists(_.isDirectory),
      s"$part holds a subdirectory: ${part.list().toSeq}")
    files.foreach { f =>
      val sigs = spark.read.parquet(f.getPath).select("signature").collect()
        .map(_.getAs[Array[Byte]](0)).toSeq
      assert(sigs == sigs.sorted(CawdEngine.Utf8Order), s"$f is not sorted by signature")
    }
  }

  /** `paths` as the binaryFile source hands them to a micro-batch:
    * (path, length) rows.
    */
  private def arrivals(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    paths.map(p => (p, new java.io.File(p.stripPrefix("file:")).length()))
      .toDF("path", "length")
  }

  /** (partitions, coalesced) of every read of a by-id exchange (the hash
    * stage's) in the final plans `sess` ran while `body` ran, through AQE
    * stages and cached relations.
    */
  private def hashExchangeReads(sess: SparkSession)(body: => Unit): Seq[(Int, Boolean)] = {
    def passThrough(p: SparkPlan): Option[Int] = p match {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning match {
        case x: ShufflePartitionIdPassThrough => Some(x.numPartitions)
        case _ => None
      }
      case _ => None
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }) ++ p.children).flatMap(walk)
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val nodes = walk(qe.executedPlan)
        val coalesced = nodes.collect {
          case r: AQEShuffleReadExec if passThrough(r.child).isDefined => r.child
        }
        nodes.foreach(n => passThrough(n).foreach(k =>
          reads.add((k, coalesced.exists(_ eq n)))))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sess.listenerManager.register(listener)
    try { body; ListenerBusDrain.drain(sess.sparkContext) }
    finally sess.listenerManager.unregister(listener)
    reads.asScala.toSeq
  }

  private def storeSignatures(spark: org.apache.spark.sql.SparkSession,
                              store: String): Seq[String] =
    spark.read.parquet(store)
      .select(hex(col("signature")), col("chunkType"), col("size"))
      .collect().map(_.toString).toSeq.sorted

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
    val wave1Tasks = storeWriteTasks(spark, store) {
      StreamingEngine.start(spark, inDir, store, stats, ".parquet",
        CawdEngine.Parquet, ckpt).awaitTermination()
    }
    // wave 2: byte-identical copy, new batch
    java.nio.file.Files.copy(src.toPath, new java.io.File(inDir, "b.parquet").toPath)
    val wave2Tasks = storeWriteTasks(spark, store) {
      StreamingEngine.start(spark, inDir, store, stats, ".parquet",
        CawdEngine.Parquet, ckpt).awaitTermination()
    }

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

    // a micro-batch lands at most one signature-sorted file per write task
    // directly in its batch=N partition, and the probe broadcasts the
    // batch's signatures against the store scan instead of shuffling the
    // store
    assertStoreLayout(spark, new java.io.File(store, "batch=0"), wave1Tasks)
    assertStoreLayout(spark, new java.io.File(store, "batch=1"), wave2Tasks)
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
    val replay = arrivals(spark, Seq(s"file:$inDir/b.parquet"))
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
    assert(streamIds(store).max == lastBatch,
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
    assert(streamIds(store).max == lastBatch)
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
    // three distinct parquet files of ~1 MB, so the backfill's bytes need
    // more than one hash task
    (0 until 3).foreach { i =>
      spark.range(i * 10000, i * 10000 + 8000).select(col("id"),
        concat(lit(s"w$i-"), col("id")).as("s"),
        sha2(concat(lit(s"w$i-"), col("id")), 512).as("h"))
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
        arrivals(spark, paths.filter(_.endsWith("f0.parquet")).toSeq), 0L,
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
      val backfill = GraftSession.child(spark, "stream-backfill", aqe = true)
      val reads = hashExchangeReads(backfill) {
        StreamingEngine.processBatch(spark, arrivals(spark, paths.toSeq), 1L,
          store, stats, CawdEngine.Parquet, maxRankFiles = 2)
      }
      val bigPlans = graft.StreamingPlanCapture.all.map(_._2).mkString("\n")
      assert(bigPlans.contains("AdaptiveSparkPlan"),
        "backfill batch must plan on the AQE-on backfill child")
      // its hash stage runs one task per share of the batch's bytes, and
      // AQE coalesces none of them
      val tasks = graft.Sizing.hashTasks(
        paths.map(p => new java.io.File(p.stripPrefix("file:")).length()).sum,
        graft.Sizing.cores(spark))
      assert(tasks > 1)
      assert(reads.nonEmpty && reads.forall(_ == ((tasks, false))),
        s"hash exchange reads $reads, want $tasks uncoalesced partitions")
      // identical dedup semantics on both branches: batch 1 re-saw batch
      // 0's bytes, so every dedupable chunk hits
      val s = spark.read.parquet(stats)
      assert(s.filter(col("batch_id") === 1 && col("metric") === "DedupBytes")
        .agg(sum("value")).head().getDouble(0) > 0.0,
        "backfill branch must still dedup against the store")
      // clustered write: the backfill's store partition holds at most
      // NumSigBuckets signature-sorted files, with no directory below it
      assertStoreLayout(spark, new java.io.File(store, "batch=1"),
        StreamingEngine.NumSigBuckets)
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

  test("a CLI run and a micro-batch ingest one file alike and leave nothing cached") {
    val spark = GraftSession.get("streaming-ingest-spec")
    import spark.implicits._
    val root = Files.createTempDirectory("ingest-spec").toString
    val file = new java.io.File(root, "one.parquet")
    singleParquet(spark.range(0, 3000).select(col("id"),
      concat(lit("v-"), col("id") % 40).as("s")), s"$root/src", file)
    val (s1, s2, stats) = (s"$root/s1", s"$root/s2", s"$root/stats")
    val timing = Seq(Metric.TransferTime, Metric.ParsingOverhead)
    try {
      val cli = CawdEngine.dedupStats(spark, Variant.Parquet,
        Seq((file.getPath, 0)), storeDir = Some(s1))
        .filter(col("file") =!= "general" && !col("metric").isin(timing: _*))
        .withColumn("name", regexp_replace(col("file"), ".*/", ""))
        // the per-file wire header counts the file name, which the stream
        // sends as a basename
        .select(col("name"), col("metric"), col("unit"),
          when(col("metric") === Metric.ExtraTransferBytes,
            col("value") - length(col("file")) + length(col("name")))
            .otherwise(col("value")))
        .collect().map(_.toString).toSeq.sorted
      spark.catalog.clearCache()
      StreamingEngine.processBatch(spark, arrivals(spark, Seq(s"file:${file.getPath}")),
        0L, s2, stats, CawdEngine.Parquet)
      assert(spark.sharedState.cacheManager.isEmpty,
        "processBatch left a cached relation behind")
      val stream = spark.read.parquet(stats)
        .select(col("file"), col("metric"), col("unit"), col("value"))
        .collect().map(_.toString).toSeq.sorted
      assert(cli.nonEmpty && cli == stream, "per-file stats differ")
      assert(storeSignatures(spark, s1).nonEmpty)
      assert(storeSignatures(spark, s1) == storeSignatures(spark, s2),
        "store signature sets differ")
    } finally spark.stop()
  }

  test("retention keeps the newest CLI runs of a CLI-grown store") {
    val spark = GraftSession.get("streaming-cli-retain-spec")
    val root = Files.createTempDirectory("cli-retain-spec").toString
    val store = s"$root/store"
    val files = (1 to 3).map { i =>
      val f = new java.io.File(root, s"f$i.parquet")
      singleParquet(spark.range(i * 10000L, i * 10000L + 2000).select(col("id"),
        concat(lit(s"w$i-"), col("id")).as("s")), s"$root/src$i", f)
      f.getPath
    }
    def run(path: String): Map[String, Double] =
      CawdEngine.dedupStats(spark, Variant.Parquet, Seq((path, 0)),
        storeDir = Some(store))
        .filter(col("file") === "general" && col("metric").isin("ChunkHit", "ChunkMiss"))
        .collect().map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap
    try {
      files.foreach(run)
      assert(new java.io.File(store).list().filter(_.startsWith("batch=")).sorted.toSeq ==
        Seq("batch=-1", "batch=-2", "batch=-3"))
      StreamingEngine.retainStore(store, keepBatches = 1)
      assert(new java.io.File(store).list().filter(_.startsWith("batch=")).toSeq ==
        Seq("batch=-3"), "retention must keep the newest CLI run")
      val again = run(files(2))
      assert(again.getOrElse("ChunkHit", 0.0) > 0.0 &&
        again.getOrElse("ChunkMiss", 0.0) == 0.0,
        s"the newest run's file must probe all-hit, got $again")
    } finally spark.stop()
  }

  test("two concurrent streams each re-size only their own latency child") {
    val spark = GraftSession.get("streaming-pair-spec")
    val root = Files.createTempDirectory("stream-pair-spec").toString
    // stream a: one file; stream b: three, so their per-batch shuffle
    // partition counts differ wherever the cores allow it
    val inputs = Map("a" -> 1, "b" -> 3).map { case (name, n) =>
      val in = new java.io.File(root, s"in-$name"); in.mkdirs()
      (0 until n).foreach { i =>
        singleParquet(spark.range(i * 1000L, i * 1000L + 700).select(col("id"),
          concat(lit(s"$name-"), col("id") % 60).as("s")), s"$root/src-$name$i",
          new java.io.File(in, s"f$i.parquet"))
      }
      name -> (in.getPath, n)
    }
    val cores = graft.Sizing.cores(spark)
    // the shuffle partition count each stream's shuffling jobs (more than
    // one stage) ran with, by streaming query id (Spark propagates the
    // session's SQL conf and the query id to the jobs of a micro-batch)
    val parts = new ConcurrentHashMap[String, java.util.Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); id <- Option(p.getProperty("sql.streaming.queryId"))
             if e.stageInfos.size > 1)
          parts.computeIfAbsent(id, _ => ConcurrentHashMap.newKeySet[String]())
            .add(String.valueOf(p.getProperty("spark.sql.shuffle.partitions")))
    }
    def start(name: String, run: String) = {
      val dir = s"$root/$run-$name"
      (StreamingEngine.start(spark, inputs(name)._1, s"$dir/store", s"$dir/stats",
        ".parquet", CawdEngine.Parquet, s"$dir/ckpt"), s"$dir/stats")
    }
    def stats(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted
    spark.sparkContext.addSparkListener(listener)
    try {
      val solo = Seq("a", "b").map { name =>
        val (q, dir) = start(name, "solo")
        q.awaitTermination()
        name -> stats(dir)
      }.toMap
      val pair = Seq("a", "b").map(name => name -> start(name, "pair"))
      pair.foreach(_._2._1.awaitTermination())
      ListenerBusDrain.drain(spark.sparkContext)
      for ((name, (q, dir)) <- pair) {
        assert(solo(name).nonEmpty && stats(dir) == solo(name), s"stream $name: stats differ")
        val want = graft.Sizing.streamLatency(inputs(name)._2, cores).toString
        assert(Option(parts.get(q.id.toString)).map(_.toArray.toSet)
          .contains(Set(want)), s"stream $name: partitions $parts, want $want")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.stop()
    }
  }
}
