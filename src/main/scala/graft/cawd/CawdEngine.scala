package graft.cawd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** End-to-end batch pipelines: directory scan → structural chunking →
  * signature dedup ([[dedupStats]], one pipeline for every [[Variant]]) →
  * transfer stats / reconstruction.
  *
  * Mirrors the reference's client/server flow (SURVEY.md §3) as ONE
  * declarative plan: the sorted-directory file stream
  * (`net/SpeedupClient.java:93-123`), per-file `eagerChunking`, the
  * server-side store probe/insert, and the final stats aggregation. The TCP
  * conversation disappears; its byte cost survives as the accounting model
  * in [[Stats.fromStatus]].
  *
  * Scale notes (100 TB target):
  *   - chunking is embarrassingly parallel per file — a flatMap over a
  *     file-path Dataset, no shuffle;
  *   - the dedup decision is one exchange per probe key: rows shuffle by
  *     `signature` and a `rank()` over arrival order marks first
  *     occurrences ([[Dedup.markFirstOccurrence]]); a hot signature's rows
  *     spill in the window buffer rather than sit on one task's heap. The
  *     s+p cascade is three such passes ([[Dedup.hierarchicalStatus]]);
  *   - `withContent=false` keeps only offsets+hashes in flight (20 B per
  *     chunk instead of the chunk bytes) — the at-scale mode; content is
  *     re-read by offset only where a sink needs it.
  */
object CawdEngine {

  sealed trait Format
  case object Orc     extends Format
  case object Parquet extends Format

  /** S5/O1: list files under `dir` with `suffix`, sorted in UTF-8 byte
    * order — order defines store-warming semantics
    * (`SpeedupClient.java:102`), and the streaming engine ranks each
    * micro-batch in the same order, so CLI and stream runs that grow one
    * store agree.
    */
  def listFiles(dir: String, suffix: String): Seq[(String, Int)] = {
    val conf = graft.HadoopConf.shared
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      .filter(_.endsWith(suffix)).sortBy(_.getBytes("UTF-8"))(Utf8Order)
    files.zipWithIndex.toSeq
  }

  /** UTF-8 byte (unsigned lexicographic) ordering — identical to Spark's
    * UTF8String binary collation (`orderBy` on a path column). Java
    * `String.compareTo` compares UTF-16 units, which diverges from byte
    * order for paths mixing U+E000–U+FFFF with supplementary chars.
    */
  private[cawd] object Utf8Order extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Target bytes of file content hashed per task. At 100 TB a 10 GB file
    * becomes ~640 tasks instead of one straggler; at test scale most files
    * stay single-bucket.
    */
  val SplitBytes: Long = 16L << 20

  /** Chunk a set of (path, fileRank) files into a Dataset[FileChunk] in two
    * distributed stages:
    *
    *   1. PLAN — metadata-only flatMap (footers + stripe footers/page
    *      headers): emits the ordered chunk metas, each assigned to a byte-
    *      range bucket of ~[[SplitBytes]] content;
    *   2. HASH — metas shuffle by (file, bucket) — ~100 B rows, tiny — and
    *      each group streams ONLY its byte range once through
    *      [[RegionHash.hashChunks]].
    *
    * Parallelism therefore scales with total bytes, not file count (the
    * reference processes one file at a time on one thread; a naive per-file
    * flatMap would keep that straggler shape for large files).
    */
  def chunkFiles(spark: SparkSession, files: Seq[(String, Int)], fmt: Format,
                 orcMode: OrcChunker.Mode = OrcChunker.StripeColumn,
                 withContent: Boolean = false): Dataset[FileChunk] =
    chunkFileDs(spreadFiles(spark, files), fmt, orcMode, withContent)

  /** A driver-side (path, fileRank) list as a Dataset of
    * [[graft.Sizing.chunkTasks]] slices, with no exchange: a chunker walks
    * one file sequentially, so tasks follow the file count.
    */
  private[cawd] def spreadFiles(spark: SparkSession,
                                files: Seq[(String, Int)]): Dataset[(String, Int)] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(files,
      graft.Sizing.chunkTasks(files.size, graft.Sizing.cores(spark))))
  }

  /** [[chunkFiles]] over an already-distributed (path, fileRank) Dataset —
    * the streaming engine's backfill path, where the file list never lands
    * on the driver.
    */
  def chunkFileDs(files: Dataset[(String, Int)], fmt: Format,
                  orcMode: OrcChunker.Mode = OrcChunker.StripeColumn,
                  withContent: Boolean = false): Dataset[FileChunk] = {
    val spark = files.sparkSession
    import spark.implicits._
    val planned: Dataset[(FileChunk, Int)] =
      files.flatMap { case (path, rank) =>
        val t0 = System.currentTimeMillis()
        val metas = planFile(path, rank, fmt, orcMode)
        val planMs = System.currentTimeMillis() - t0
        // timing side-channel row (ParsingOverhead source); parentSeq == -2
        // keeps it out of dedup, exports, and bucket math
        assignBuckets(metas) :+
          (FileChunk(path, rank, -1, ChunkType.PlanStat, 0, planMs, -1, "", -2,
            Array.emptyByteArray, Array.emptyByteArray), 0)
      }
    planned
      .groupByKey { case (c, bucket) => (c.file, bucket) }
      .flatMapGroups { (key: (String, Int), it: Iterator[(FileChunk, Int)]) =>
        val (pseudo, real) = it.map(_._1).toArray.partition(_.parentSeq == -2)
        val t0 = System.currentTimeMillis()
        val hashed = RegionHash.hashChunks(key._1, real.sortBy(_.seq).toSeq, withContent)
        val hashMs = System.currentTimeMillis() - t0
        val rank = (pseudo ++ real).headOption.map(_.fileRank).getOrElse(0)
        // per-bucket hash-stage duration (TransferTime source)
        (hashed.iterator ++ pseudo.iterator) ++ Iterator.single(
          FileChunk(key._1, rank, -1, ChunkType.HashStat, 0, hashMs, -1, "", -2,
            Array.emptyByteArray, Array.emptyByteArray))
      }
  }

  /** ParsingOverhead / TransferTime metric rows from the timing
    * side-channel emitted by [[chunkFiles]] (`NaiveORCStreamer.java:117-121,
    * 149-151`). TransferTime here is the cumulative hash-stage task time per
    * file — the batch analogue of the reference's per-file transfer wall
    * time. Excluded from oracle-checked outputs (timings are
    * nondeterministic); surfaced by the library pipelines below.
    */
  def timingStats(chunks: Dataset[FileChunk]): DataFrame =
    chunks.toDF().filter(col("parentSeq") === -2)
      .groupBy(col("file"),
        when(col("chunkType") === ChunkType.PlanStat, lit(Metric.ParsingOverhead))
          .otherwise(lit(Metric.TransferTime)).as("metric"))
      .agg(sum(col("size")).cast("double").as("value"))
      .withColumn("unit", lit(Metric.Milliseconds))
      .select("file", "metric", "value", "unit")

  /** Plan one file's chunk metas; a structural parse failure degrades to a
    * single whole-file [[ChunkType.Error]] chunk (raw transfer, still
    * reconstructable) instead of failing the task — the reference's ERROR
    * chunk type, and the only sane behavior at corpus scale.
    */
  private[graft] def planFile(path: String, rank: Int, fmt: Format,
                             orcMode: OrcChunker.Mode): Seq[FileChunk] =
    try fmt match {
      case Orc     => OrcChunker.plan(path, rank, orcMode)
      case Parquet => ParquetChunker.plan(path, rank)
    } catch {
      case scala.util.control.NonFatal(_) =>
        val p = new Path(path)
        val len = p.getFileSystem(graft.HadoopConf.shared).getFileStatus(p).getLen
        Seq(FileChunk(path, rank, 0, ChunkType.Error, 0, len, -1, "", -1,
          Array.emptyByteArray, Array.emptyByteArray))
    }

  /** Bucket metas into ~[[SplitBytes]] byte ranges. Cuts only at top-level
    * chunk boundaries (`parentSeq == -1`), so Column subchunks — which
    * overlay their stripe's data region — always share their stripe's
    * bucket and each bucket reads one contiguous range.
    */
  private[graft] def assignBuckets(metas: Seq[FileChunk],
                                  target: Long = SplitBytes): Seq[(FileChunk, Int)] = {
    var bucket = 0
    var acc = 0L
    metas.map { m =>
      if (m.parentSeq == -1 && acc >= target) { bucket += 1; acc = 0L }
      if (m.parentSeq == -1) acc += m.size
      (m, bucket)
    }
  }

  /** Simulate the README's warm-store experiment (BASELINE.md parity KPI):
    * every input file is followed by a byte-identical copy (fileRank shifted
    * past all originals, so all copies arrive "after" all originals).
    * Each row yields itself and its copy in one pass over `chunks`, so the
    * corpus is read and hashed once without a cache of its own.
    */
  def withDuplicates(chunks: Dataset[FileChunk]): Dataset[FileChunk] = {
    import chunks.sparkSession.implicits._
    val shift = 1 << 20
    chunks.flatMap(c =>
      Iterator(c, c.copy(file = c.file + "+copy", fileRank = c.fileRank + shift)))
  }

  /** The batch dedup pipeline of every [[Variant]]: chunk `files` (each
    * followed by a byte-identical copy with `duplicate`), decide every
    * chunk's status, and roll up the per-file + global stats, timing rows
    * included.
    *
    * With `storeDir` the run is incremental against a persisted signature
    * store (the reference's long-lived server store as a batch API): it
    * takes the next NEGATIVE batch id and [[ingest]]s under it, probing
    * every partition but its own. Batch-mode partitions descend from -1
    * while the streaming engine's ascend from 0 (checkpoint-derived), so
    * the two id sequences can never collide — a resumed stream retrying
    * micro-batch N overwrites only `batch=N`. One store can therefore be
    * grown by CLI runs, library calls, and the streaming engine
    * interchangeably. Only [[Variant.Flat]] variants take a store; any
    * other throws IllegalArgumentException.
    */
  def dedupStats(spark: SparkSession, variant: Variant, files: Seq[(String, Int)],
                 duplicate: Boolean = false,
                 storeDir: Option[String] = None): DataFrame =
    // CLI bulk ingest is not latency-bound: always take the clustered store
    // write, so one run lands ≤ NumSigBuckets sorted files however many
    // misses it has.
    ingest(variant, variant.chunk(spark, files), duplicate,
      storeDir.map(dir => (dir, StreamingEngine.nextCliBatchId(spark, dir))),
      clustered = true) { (chunks, status) =>
      // materialized before ingest releases the caches it reads
      Stats.rollup(Stats.fromStatus(status, variant.emitSizes)
        .unionByName(timingStats(chunks)))
        .localCheckpoint(true)
    }

  /** The one batch dedup step, shared by a CLI run ([[dedupStats]]), a
    * stream micro-batch ([[StreamingEngine.processBatch]]) and a c-pack
    * dedup row (`graft.queries.CawdQueries`), in order:
    *   1. cache `chunked`, the one relation cached for the chunks; with
    *      `duplicate` each file is followed by a byte-identical copy
    *      derived from the cached rows;
    *   2. decide every chunk's status; with a `store` target (directory,
    *      batch id) the probe reads every partition but `batch=id`, so a
    *      retried id recomputes from the same store state;
    *   3. with a store target, cache the status (the write and the sink
    *      both read it) and overwrite `batch=id` with the misses
    *      ([[StreamingEngine.writeStorePartition]]); without one the sink
    *      is the status's only reader, so nothing is cached for it;
    *   4. run `sink` over the cached chunks and the status;
    *   5. release every relation this step cached — the status derives
    *      from `chunked`, so one cascading uncache of it frees them all.
    */
  private[graft] def ingest[T](variant: Variant, chunked: Dataset[FileChunk],
                               duplicate: Boolean, store: Option[(String, Long)],
                               clustered: Boolean)
                              (sink: (Dataset[FileChunk], DataFrame) => T): T = {
    val spark = chunked.sparkSession
    try {
      val cached = chunked.cache()
      val chunks = if (duplicate) withDuplicates(cached) else cached
      val status = (variant, store) match {
        case (v, None) => v.status(chunks.toDF())
        case (v: Variant.Flat, Some((dir, id))) =>
          val st = v.status(chunks.toDF(),
            StreamingEngine.readStore(spark, dir).map(_.filter(col("batch") =!= id)))
            .cache()
          StreamingEngine.writeStorePartition(
            st.filter(col("status") === "miss")
              .select(StreamingEngine.StoreCols.map(col): _*),
            s"$dir/batch=$id", clustered)
          st
        case (v, Some(_)) => throw new IllegalArgumentException(
          s"--store is not supported for mode '${v.name}'")
      }
      sink(chunks, status)
    } finally spark.sharedState.cacheManager.uncacheQuery(chunked, cascade = true)
  }

  /** [[dedupStats]] of the s+p cascade over the ORC files in `dir`. */
  def hierarchicalDedupStats(spark: SparkSession, dir: String,
                             duplicate: Boolean = false): DataFrame =
    dedupStats(spark, Variant.OrcSp, listFiles(dir, Variant.OrcSp.suffix), duplicate)

  /** S6: plain no-dedup baseline — fixed-size framing of the raw byte
    * stream (`net/SpeedupStreamer.java:50-134`, bufferSize default 4096).
    * A genuine content path: every frame's bytes are read and hashed (and
    * optionally carried), unlike a metadata-only size computation.
    */
  def plainFrames(spark: SparkSession, files: Seq[(String, Int)],
                  bufferSize: Int = 4096,
                  withContent: Boolean = false): Dataset[FileChunk] = {
    import spark.implicits._
    spreadFiles(spark, files).flatMap { case (path, rank) =>
      val p = new Path(path)
      val fs = p.getFileSystem(graft.HadoopConf.shared)
      val len = fs.getFileStatus(p).getLen
      val metas = (0L until len by bufferSize.toLong).zipWithIndex.map {
        case (off, i) =>
          FileChunk(path, rank, i, ChunkType.Regular, off,
            math.min(bufferSize.toLong, len - off), -1, "", -1,
            Array.emptyByteArray, Array.emptyByteArray)
      }
      RegionHash.hashChunks(path, metas, withContent)
    }
  }

  /** Top-level cover of a chunk relation: every row except timing rows
    * and OVERLAY columns (StripeColumn mode). Top-level Column chunks
    * (ColumnBased mode, parentSeq == -1) ARE the data cover. The cover's
    * rows tile each file in seq order.
    */
  def isCover: Column = col("parentSeq") =!= -2 &&
    !(col("chunkType") === ChunkType.Column && col("parentSeq") =!= -1)

  /** S7: reconstruction sink — materialize each file as `destDir/<name>` by
    * ordered concatenation of resolved chunk contents
    * (`net/SpeedupReceiver.java:87-161`). Rows stream through a
    * shuffle-sorted iterator — no whole-file buffer on any task. Returns
    * one row per file: (file, dest, bytes).
    */
  def reconstructTo(chunks: Dataset[FileChunk], destDir: String): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .filter(isCover)
      .repartition(col("file"))
      .sortWithinPartitions(col("file"), col("seq"))
      .mapPartitions { rows =>
        val conf = graft.HadoopConf.shared
        val res = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cur: String = null
        var dest: String = null
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var written = 0L
        def finish(): Unit = if (cur != null) {
          out.close(); res += ((cur, dest, written)); cur = null
        }
        rows.foreach { c =>
          if (c.file != cur) {
            finish()
            cur = c.file
            dest = s"$destDir/${new Path(c.file).getName}"
            val dp = new Path(dest)
            out = dp.getFileSystem(conf).create(dp, true)
            written = 0L
          }
          require(c.content.length == c.size,
            s"reconstructTo needs materialized content (withContent = true); " +
              s"chunk ${c.file}#${c.seq} carries ${c.content.length} of ${c.size} bytes")
          out.write(c.content)
          written += c.content.length
        }
        finish()
        res.iterator
      }
      .toDF("file", "dest", "bytes")
  }

  /** Sidecar location for [[digestingExportWrite]]'s partial digests: a
    * SIBLING of the export dir (not a subdir) so the export stays a plain
    * parquet directory for every reader — Spark's old-shape read-back, the
    * DuckDB oracle's per-tag parquet glob — with no reliance on
    * hidden-path filtering in any of them.
    */
  def digestSidecarDir(out: String): String =
    s"${out.stripSuffix("/")}__digests"

  /** S7 fused (round 16): write the cover export AND digest its content in
    * the same pass. The old c06 shape paid four linear byte passes — chunk
    * +hash+carry, export write, export read-back + a repartition(file)
    * exchange moving every content byte into the digest sort, and a source
    * re-read — because its digest needed each file's bytes in seq order
    * on one task. This pass instead digests each maximal
    * BYTE-CONTIGUOUS same-file run of cover rows AS the parquet writer
    * pulls them, keyed on the chunks' true file offsets (chunk output is
    * hash-partitioned by (file, ~16 MB bucket), and a partition can hold
    * NON-adjacent buckets of one file — the fifth-decade probe caught a
    * seq-keyed merge silently concatenating ranges across such a gap), and
    * writes the partials `(startOff, bytes, sha1, file)` to
    * [[digestSidecarDir]] — the content bytes never cross an exchange and
    * the export is never re-read. [[identityFromDigests]] verifies the
    * partials against the originals; the export round-trip itself (parquet
    * encode/decode) stays independently verified by the DuckDB oracle's
    * cumulative-offset `read_blob` comparison. At 100 TB this is the shape
    * that survives: verification parallelizes by ~[[SplitBytes]]-sized
    * range, and the old shape's all-content exchange is gone.
    */
  def digestingExportWrite(cover: DataFrame, out: String,
                           writeOptions: Map[String, String]): Unit = {
    val spark = cover.sparkSession
    import spark.implicits._
    val sidecarDir = digestSidecarDir(out)
    // the parquet overwrite below only clears `out`; a stale sidecar from a
    // previous run with more partitions would leave orphan partials that
    // corrupt the combine — clear it explicitly, before the write job
    val scp = new Path(sidecarDir)
    scp.getFileSystem(graft.HadoopConf.shared)
      .delete(scp, true)
    cover
      .select(col("file"), col("seq"), col("start"), col("size"), col("content"))
      .as[(String, Int, Long, Long, Array[Byte])]
      .mapPartitions { rows =>
        val partials = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, String, String)] // (startOff, bytes, sha, file)
        var curFile: String = null
        var md: java.security.MessageDigest = null
        var runStart = 0L
        var runBytes = 0L
        def finishRun(): Unit = if (curFile != null) {
          partials += ((runStart, runBytes,
            md.digest().map("%02x".format(_)).mkString, curFile))
          curFile = null
        }
        def writeSidecar(): Unit = {
          val tc = org.apache.spark.TaskContext.get()
          val pid = if (tc != null) tc.partitionId() else 0
          val p = new Path(s"$sidecarDir/part-$pid.tsv")
          val fs = p.getFileSystem(graft.HadoopConf.shared)
          val os = fs.create(p, true)
          try {
            val w = new java.io.BufferedWriter(
              new java.io.OutputStreamWriter(os, "UTF-8"))
            // file path last: the one field that could contain a separator
            partials.foreach { case (off, b, sha, f) =>
              w.write(s"$off\t$b\t$sha\t$f"); w.newLine()
            }
            w.flush()
          } finally os.close()
        }
        new Iterator[(String, Int, Long, Array[Byte])] {
          private var sidecarDone = false
          def hasNext: Boolean = {
            val h = rows.hasNext
            // the parquet writer drains the iterator fully, so exhaustion
            // is exactly once per task, after the last row was written
            if (!h && !sidecarDone) { finishRun(); writeSidecar(); sidecarDone = true }
            h
          }
          def next(): (String, Int, Long, Array[Byte]) = {
            val (file, seq, start, size, content) = rows.next()
            require(content.length == size,
              s"digestingExportWrite needs materialized content; " +
                s"chunk $file#$seq carries ${content.length} of $size bytes")
            // a run extends only while the next chunk's offset continues
            // the current byte range — a partition holds (file, bucket)
            // groups sorted by key, and the bucket set for one file need
            // NOT be consecutive, so same-file group boundaries can be
            // byte-discontinuous
            if (file != curFile || start != runStart + runBytes) {
              finishRun()
              curFile = file
              md = java.security.MessageDigest.getInstance("SHA-1")
              runStart = start
              runBytes = 0L
            }
            md.update(content)
            runBytes += size
            (file, seq, size, content)
          }
        }
      }
      .toDF("file", "seq", "size", "content")
      .write.mode("overwrite").options(writeOptions).parquet(out)
  }

  /** Verify the sidecar partials of [[digestingExportWrite]] against the
    * original files: per file, sort partials by start offset and assert
    * disjoint ranges (load-bearing: overlapping ranges could sum to the
    * file length while leaving a gap unchecked), then re-read each
    * original range — distributed by ~[[SplitBytes]]-sized partial, not
    * by file — and compare digests. Returns one row per file: (file,
    * file_bytes, recon_bytes, identical), identical := every range digest matches AND recon_bytes
    * == file_bytes — with disjointness and ranges bounded by EOF, that is
    * exact tiling of [0, file_bytes), i.e. whole-file byte identity.
    */
  def identityFromDigests(spark: SparkSession, out: String): DataFrame = {
    import spark.implicits._
    val ranged = spark.read.textFile(digestSidecarDir(out))
      .map { line =>
        val a = line.split("\t", 4)
        (a(3), a(0).toLong, a(1).toLong, a(2))
      } // (file, startOff, bytes, sha)
      .groupByKey(_._1)
      .flatMapGroups { (file: String, it: Iterator[(String, Long, Long, String)]) =>
        val ps = it.toArray.sortBy(_._2)
        ps.sliding(2).foreach {
          case Array(a, b) =>
            require(b._2 >= a._2 + a._3, s"overlapping digest runs in $file: " +
              s"[${a._2},${a._2 + a._3}) and [${b._2},${b._2 + b._3})")
          case _ => ()
        }
        ps.iterator
      } // (file, startOff, bytes, sha)
    ranged
      .repartition(graft.Sizing.cores(spark))
      .map { case (file, off, len, sha) =>
        val p = new Path(file)
        val fs = p.getFileSystem(graft.HadoopConf.shared)
        val fileLen = fs.getFileStatus(p).getLen
        val md = java.security.MessageDigest.getInstance("SHA-1")
        val buf = new Array[Byte](1 << 20)
        var got = 0L
        val in = fs.open(p)
        try {
          in.seek(off)
          var n2 = in.read(buf, 0, math.min(buf.length.toLong, len).toInt)
          while (n2 > 0 && got < len) {
            md.update(buf, 0, n2)
            got += n2
            n2 = in.read(buf, 0, math.min(buf.length.toLong, len - got).toInt)
          }
        } finally in.close()
        // a range running past EOF (cover claims more bytes than the file
        // has) digests short and fails the compare — reported as
        // non-identical, same as any other byte difference
        val ok = got == len &&
          md.digest().map("%02x".format(_)).mkString == sha
        (file, fileLen, len, ok)
      }
      .toDF("file", "file_bytes", "bytes", "ok")
      .groupBy(col("file"))
      .agg(first(col("file_bytes")).as("file_bytes"),
        sum(col("bytes")).as("recon_bytes"),
        min(col("ok").cast("int")).as("allok"))
      .select(col("file"), col("file_bytes"), col("recon_bytes"),
        (col("allok") === 1 &&
          col("recon_bytes") === col("file_bytes")).as("identical"))
  }
}
