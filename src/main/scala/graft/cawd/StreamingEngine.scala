package graft.cawd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming variant of the dedup pipeline (SURVEY.md §2.8).
  *
  * The reference is an incremental stateful stream: files arrive in order,
  * the server's chunk stores grow monotonically and never evict
  * (`net/SpeedupClient.java:107-128`, store fields
  * `orc/net/NaiveORCReceiver.java:30`). Spark-first mapping:
  *
  *   - file arrivals = a `binaryFile` file-source stream (path-only
  *     projection — Spark reads just enough metadata to enumerate files);
  *   - the store = a parquet table PARTITIONED BY BATCH (`batch=N`
  *     subdirectories): each micro-batch OVERWRITES exactly its own
  *     partition with its first-occurrence chunks, and probes every
  *     partition but its own. A retried batch therefore recomputes from
  *     the same store state and rewrites the same partition — exactly-once
  *     semantics without a transaction log, and the distinct-signature
  *     invariant survives partial failures;
  *   - per-batch dedup = the CLI run's ingest step ([[CawdEngine.ingest]]:
  *     chunk → probe → store write → release), with the rest of the store
  *     as the warm set — batch and streaming share ONE store lifecycle;
  *   - ordering: in-order processing per the reference is preserved at
  *     micro-batch granularity (files within a batch are ranked by path,
  *     batches by arrival). No watermark — there is no event time.
  *
  * Store layout: each `batch=N` partition is plain parquet files whose
  * rows are sorted by `signature` — one file per write task for a
  * micro-batch, ≤ [[NumSigBuckets]] files for a bulk write. A per-batch
  * probe pushes its signatures into the store scan as In predicates, which
  * the sorted files' row-group and page statistics prune, and never
  * shuffles the store (see [[Dedup.markFirstOccurrence]]). Merging many
  * small partitions is the caller's step ([[compactStore]]); eviction/TTL
  * (absent in the reference) is a retention delete of old batch partitions
  * ([[retainStore]]).
  */
object StreamingEngine {

  /** Chunk-store schema columns persisted across batches. */
  private[cawd] val StoreCols = Seq("signature", "chunkType", "size")

  /** Bulk-write fan-out: a clustered store write hash-partitions its rows
    * by signature into at most this many sorted files.
    */
  val NumSigBuckets = 256

  /** Batches up to this many files rank with a single bounded driver
    * collect; larger backfills use the distributed sort (see
    * [[processBatch]]).
    */
  private[cawd] val MaxRankFiles: Int = 1 << 20

  /** Write one store partition `dir` as parquet files sorted by
    * `signature`, with no directory level below it. Overwrite replaces the
    * whole `batch=N` directory, so a retried batch rewrites the same
    * partition.
    *
    * Sorted files are what the probe's In pushdown prunes by: signatures
    * are hashes, so an unsorted file's row-group and page min/max span the
    * whole keyspace and a probe must read every page. Sorted, a K-signature
    * probe reads ≤ K pages per file.
    *
    * A micro-batch write (the default) sorts inside each write task and
    * does not shuffle: it lands one file per non-empty task, a few per
    * wave, and adds no stage to the batch's latency. Its files stay in the
    * store until the caller runs [[compactStore]]; the stream does not
    * compact on its own.
    *
    * `clustered` is for bulk writers (CLI `--store` runs, backfills,
    * compaction), whose row count is unbounded: one shuffle on `signature`
    * into ≤ [[NumSigBuckets]] sorted files, each with a signature bloom
    * filter (drops whole row groups for miss-heavy probes) and pages of at
    * most 4096 rows, so the column index prunes a probe to a few pages of
    * a large file.
    */
  def writeStorePartition(df: DataFrame, dir: String,
                          clustered: Boolean = false): Unit = {
    val writer =
      if (clustered)
        df.repartition(NumSigBuckets, col("signature"))
          .sortWithinPartitions(col("signature")).write
          .option("parquet.bloom.filter.enabled#signature", "true")
          .option("parquet.bloom.filter.adaptive.enabled", "true")
          .option("parquet.page.row.count.limit", "4096")
      else df.sortWithinPartitions(col("signature")).write
    writer.mode("overwrite").parquet(dir)
  }

  /** Explicit store schema: a batch with zero misses still writes its
    * (empty) partition, and schema INFERENCE over a partition holding only
    * _SUCCESS throws — pinning the schema makes empty partitions read as
    * zero rows instead of bricking every later probe.
    */
  private val StoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("signature",
      org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("chunkType",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("size",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))

  /** Store contents: the union of every batch partition, with its `batch`
    * column; `None` while the store has no partition.
    */
  def readStore(spark: SparkSession, storeDir: String): Option[DataFrame] = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(graft.HadoopConf.shared)
    if (!fs.exists(p) || !fs.listStatus(p).exists(_.getPath.getName.startsWith("batch=")))
      return None
    Some(spark.read.schema(StoreSchema)
      .option("basePath", storeDir).parquet(storeDir))
  }

  /** The store's batch ids in arrival order, newest last: batch-mode ids
    * -1, -2, … (each CLI run takes the next lower id), then streaming ids
    * ascending.
    */
  private def batchIds(storeDir: String): Seq[Long] = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(graft.HadoopConf.shared)
    val ids =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName).toSeq
        .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong }
    val (cli, stream) = ids.partition(_ < 0)
    cli.sorted.reverse ++ stream.sorted
  }

  /** Next free BATCH-MODE partition id: descending from -1. The streaming
    * sequence is checkpoint-derived from 0 up, so a retrying stream
    * (overwriting `batch=N`) cannot clobber a batch-mode partition.
    */
  def nextCliBatchId(spark: SparkSession, storeDir: String): Long =
    batchIds(storeDir).filter(_ < 0).foldLeft(0L)(math.min) - 1

  /** Compact the store's batch partitions (the retention op the reference
    * never needed because its store lived on one heap): all partitions
    * EXCEPT the newest (in [[batchIds]] arrival order) merge their
    * distinct signatures into the second-newest id, and the rest are
    * dropped. The newest partition is never touched: Structured Streaming
    * may retry exactly that batch after a crash-before-checkpoint-commit
    * (its overwrite targets only its own id, and its probe of every other
    * partition still sees the full merged history). Probe semantics are
    * preserved — every surviving signature stays visible to any future
    * batch — while the partition count stops growing with stream age.
    */
  def compactStore(spark: SparkSession, storeDir: String): Unit = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(graft.HadoopConf.shared)
    val batches = batchIds(storeDir)
    if (batches.length <= 2) return
    val protectedId = batches.last // possibly in-flight; never rewritten
    val mergeIds = batches.init
    val mergeInto = mergeIds.last
    val merged = readStore(spark, storeDir).get
      .filter(col("batch") =!= protectedId)
      .select(StoreCols.map(col): _*)
      .dropDuplicates("signature")
      .localCheckpoint(true) // sever lineage from the files about to vanish
    // clustered: the compacted partition is the store's steady-state bulk,
    // read by every future probe — ≤ NumSigBuckets sorted files
    writeStorePartition(merged, s"$storeDir/batch=$mergeInto", clustered = true)
    mergeIds.filter(_ != mergeInto).foreach { b =>
      fs.delete(new Path(p, s"batch=$b"), true)
    }
  }

  /** Retention delete: evict old batch partitions, bounding the store for
    * an infinite stream (the TTL the reference never needed because its
    * store lived and died on one heap). Unlike [[compactStore]] (a
    * lossless merge), retention FORGETS: an evicted signature probes as a
    * miss afterwards and is re-learned on its next arrival — the standard
    * bounded-store trade. A partition is evicted when it falls outside the
    * newest `keepBatches` ids in [[batchIds]] arrival order OR its
    * directory is older than `maxAgeMs`;
    * the newest partition is never deleted (Structured Streaming may be
    * mid-retry on exactly that id).
    */
  def retainStore(storeDir: String, keepBatches: Int = Int.MaxValue,
                  maxAgeMs: Long = Long.MaxValue): Unit = {
    require(keepBatches >= 1, "retention must keep at least the newest batch")
    val p = new Path(storeDir)
    val fs = p.getFileSystem(graft.HadoopConf.shared)
    val batches = batchIds(storeDir)
    if (batches.isEmpty) return
    val now = System.currentTimeMillis()
    val keepByCount = batches.takeRight(keepBatches).toSet
    batches.dropRight(1).foreach { b =>
      val dir = new Path(p, s"batch=$b")
      val tooOld = now - fs.getFileStatus(dir).getModificationTime > maxAgeMs
      if (!keepByCount(b) || tooOld) fs.delete(dir, true)
    }
  }

  /** Start the streaming dedup: watch `inDir` for new `suffix` files, fold
    * each micro-batch through the chunk store at `storeDir`, write per-file
    * metric rows under `statsDir`, and (optionally) the per-batch
    * chunk-status table for the external oracle under `exportDir`.
    */
  def start(spark: SparkSession, inDir: String, storeDir: String,
            statsDir: String, suffix: String, fmt: CawdEngine.Format,
            checkpointDir: String, exportDir: Option[String] = None): StreamingQuery = {
    // The whole stream runs on the latency-tuned child session (same
    // SparkContext/executors, private SQLConf): the file source's arrival
    // listing then happens driver-side instead of as a per-trigger Spark
    // job, and foreachBatch inherits the same conf. File count per batch
    // is unknown here; processBatch re-sizes shuffle partitions per batch.
    val sess = latencySession(spark, graft.Sizing.cores(spark))
    val files = sess.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat.schema)
      .option("pathGlobFilter", s"*$suffix")
      // staged waves HARDLINK the corpus (StreamingQueries.stageInto), so
      // arrivals keep the SOURCE mtime. The file source's default
      // maxFileAge (7 d, relative to the newest file seen) would then
      // silently age out part of a wave whenever corpus mtimes span >7 d —
      // e.g. an incrementally refreshed or rsync --times corpus — and the
      // only symptom is a changed row count (the zero-rows drain guard
      // only catches a fully empty wave). Arrival here is DIRECTORY
      // MEMBERSHIP, not mtime: disable age-based skipping outright.
      .option("maxFileAge", "36500d")
      // path+length only; binaryFile still materializes content — acceptable
      // because the chunkers re-read per-file anyway and the projection is
      // pruned to metadata columns below.
      .load(inDir)
      .select(col("path"), col("length"))

    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(sess, batch, batchId, storeDir, statsDir, fmt, exportDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Latency-tuned child session for small micro-batches, memoized per
    * parent (same SparkContext/executors/cache, private SQLConf — the same
    * isolation pattern as ConnectedComponents' loop session). AQE is OFF
    * here deliberately: AQE materializes every query stage as its own job,
    * and at streaming cadence the per-job driver round-trip IS the latency
    * floor (s01 profiling: ~20 sub-0.3 s stage-jobs per wave, no hot one).
    * With AQE off each driver action is ONE job; skew/coalescing don't
    * matter on a batch this size. Shuffle partitions follow the file count
    * (rows-not-bytes rule) so tiny batches don't launch 32-task stages.
    */
  // Driver-side file listing up to 4096 paths (default threshold 32):
  // at micro-batch cadence the distributed listing JOB is ~0.3 s of pure
  // scheduling — 3× the listing itself — and it fires twice per batch
  // (file source enumerating arrivals, store probe enumerating the
  // batch=* partition dirs; either can pass 32 paths). A local/HDFS
  // listStatus is ~ms per directory, so 4096 driver-side listings stay
  // ≪ one job's scheduling cost; an object-store deployment with
  // slow per-dir RPC should lower this back down.
  private val ListingThreshold = 4096
  private def latencySession(spark: SparkSession, nFiles: Int): SparkSession =
    graft.GraftSession.child(spark, "stream-latency", aqe = false,
      shufflePartitions =
        Some(graft.Sizing.streamLatency(nFiles, graft.Sizing.cores(spark))),
      listingThreshold = Some(ListingThreshold))

  /** One micro-batch: rank new files after everything already seen, then
    * [[CawdEngine.ingest]] them under `batchId` and overwrite this batch's
    * stats (/export) partitions. Idempotent under retries: the probe never
    * reads this batch's own partition, so a re-run recomputes identical
    * statuses and rewrites identical partitions. Batches of more than
    * `maxRankFiles` files take the backfill path.
    */
  private[cawd] def processBatch(spark: SparkSession, batch: DataFrame,
                                 batchId: Long, storeDir: String,
                                 statsDir: String, fmt: CawdEngine.Format,
                                 exportDir: Option[String] = None,
                                 maxRankFiles: Int = MaxRankFiles): Unit = {
    import spark.implicits._
    // ranks are per-batch; earlier batches' chunks are already in the store,
    // so cross-batch ordering is enforced by store membership, not rank.
    // Rank strategy = ONE bounded collect (replaces the old count action +
    // window-rank job): paths up to the 2²⁰ cap land on the driver — the
    // same ≤ ~100 MB budget the old single-task window sort already spent —
    // get ranked in UTF-8 byte order, and re-parallelize without a shuffle.
    // Larger backfills fall back to the fully distributed range-partitioned
    // sort (no driver collect beyond the capped probe, no exact count —
    // the cap probe IS the strategy pick).
    val headPaths = batch.select(col("path"))
      .limit(maxRankFiles + 1)
      .collect().map(_.getString(0).replaceFirst("^file:", ""))
    if (headPaths.isEmpty) return
    val small = headPaths.length <= maxRankFiles
    // Large backfills must NOT inherit the latency posture this batch's
    // session may carry (the stream runs ON the latency child, whose last
    // micro-batch can have left shuffle.partitions as low as 2): a
    // million-file backfill wants AQE back on (skew/coalesce rescue) and
    // full-width shuffles, so it runs on its own default-posture child.
    val sess =
      if (small) latencySession(spark, headPaths.length)
      else graft.GraftSession.child(spark, "stream-backfill", aqe = true,
        shufflePartitions = Some(graft.Sizing.cores(spark)),
        listingThreshold = Some(ListingThreshold))
    // ORC streams run the naive variant — a flat probe needs top-level
    // chunks, and StripeColumn's linked chunks (parentSeq != -1) would
    // silently fall out of it and the exported table
    val variant: Variant.Structural = fmt match {
      case CawdEngine.Parquet => Variant.Parquet
      case CawdEngine.Orc     => Variant.OrcNaive
    }
    val chunked =
      if (small)
        variant.chunk(sess, headPaths.sortBy(_.getBytes("UTF-8"))(CawdEngine.Utf8Order)
          .toSeq.zipWithIndex)
      else
        // Bind the WHOLE pipeline to the backfill child: building this via
        // the incoming `batch`'s lineage (spark.implicits' .toDF) would plan
        // chunk/probe/write under the latency child's SQLConf — AQE off,
        // shuffle.partitions as low as the last micro-batch left them — and
        // only the store read would see the backfill posture (round-8
        // advice). Dropping to the RDD severs the old lineage; createDataFrame
        // on `sess` re-roots it.
        variant.chunkDs(sess.createDataFrame(
          batch.select(col("path")).as[String].rdd
            .map(_.replaceFirst("^file:", ""))
            .sortBy(_.getBytes("UTF-8"))(CawdEngine.Utf8Order,
              scala.reflect.classTag[Array[Byte]])
            .zipWithIndex()
            .map { case (p, i) => (p, i.toInt) }
            .repartition(graft.Sizing.cores(spark)))
          .toDF("path", "fileRank")
          .as[(String, Int)](org.apache.spark.sql.Encoders.product[(String, Int)]))
    // Large backfills take the clustered store write: their miss count is
    // unbounded, so they get one bounded shuffle into ≤ NumSigBuckets
    // sorted files. Micro-batches keep the no-shuffle latency path.
    CawdEngine.ingest(variant, chunked, duplicate = false,
      Some((storeDir, batchId)), clustered = !small) { (_, status) =>
      // audit hook (no-op unless PlanAudit enabled it): the probe/dedup plan
      // that actually runs inside this micro-batch — the foreachBatch
      // interior the audit cannot reach from the outer streaming query
      graft.StreamingPlanCapture.record("s01-batch",
        status.queryExecution.executedPlan.toString)
      // stats see basenames so downstream output (and the DuckDB oracle
      // re-deriving it) doesn't depend on temp-dir paths
      val named = status.withColumn("file", regexp_replace(col("file"), ".*/", ""))
      // Sequential sinks, deliberately: a concurrent-Futures variant was
      // measured SLOWER (6.2 s → 11.6 s for the two-wave run) — three
      // simultaneous jobs racing the cold `status` cache serialize on its
      // per-partition locks and thrash the scheduler.
      Stats.fromStatus(named)
        .write.mode("overwrite").parquet(s"$statsDir/batch_id=$batchId")
      // chunk-status table for the external oracle: cross-batch dedup is
      // re-derivable as first-occurrence by (batchId, fileRank, seq)
      exportDir.foreach { dir =>
        CawdExport.chunkColumns(status, lit(batchId).as("batchId"),
          col("status").as("engine_status"))
          .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      }
    }
  }

  /** Batch view over the accumulated streaming stats (per-file + global
    * rollup, same shape as the batch engine's output).
    */
  def statsRollup(spark: SparkSession, statsDir: String): DataFrame = {
    // same latency POSTURE as the micro-batches (AQE off, driver-side
    // listing — the rollup reads a few dozen small per-batch files), but a
    // SEPARATE child: sharing the micro-batch child's mutable SQLConf
    // raced a rollup invoked mid-stream against a batch planning on the
    // same session (round-7 advice) — distinct tags give distinct
    // sessions, so neither resizes the other's shuffles.
    val sess = graft.GraftSession.child(spark, "stream-stats", aqe = false,
      shufflePartitions = Some(graft.Sizing.cores(spark)),
      listingThreshold = Some(ListingThreshold))
    Stats.rollup(sess.read.option("basePath", statsDir).parquet(statsDir)
      .drop("batch_id"))
  }
}
