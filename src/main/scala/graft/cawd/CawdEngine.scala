package graft.cawd

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch pipelines: directory scan → structural chunking →
  * signature dedup → transfer stats / reconstruction.
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
  *   - the dedup decision is one hash aggregation + co-partitioned join on
  *     `signature` ([[Dedup.markFirstOccurrence]]); at high dup ratios the
  *     map-side combine shrinks the shuffle to ~one row per distinct
  *     signature;
  *   - `withContent=false` keeps only offsets+hashes in flight (20 B per
  *     chunk instead of the chunk bytes) — the at-scale mode; content is
  *     re-read by offset only where a sink needs it.
  */
object CawdEngine {

  sealed trait Format
  case object Orc     extends Format
  case object Parquet extends Format

  /** S5/O1: list files under `dir` with `suffix`, lexicographically sorted —
    * order defines store-warming semantics (`SpeedupClient.java:102`).
    */
  def listFiles(dir: String, suffix: String): Seq[(String, Int)] = {
    val conf = new Configuration()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      .filter(_.endsWith(suffix)).sorted
    files.zipWithIndex.toSeq
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
                 withContent: Boolean = false): Dataset[FileChunk] = {
    import spark.implicits._
    val n = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    chunkFileDs(spark.createDataset(files).repartition(n), fmt, orcMode, withContent)
  }

  /** [[chunkFiles]] over an already-distributed (path, fileRank) Dataset —
    * the streaming engine's micro-batch path, where the file list never
    * lands on the driver.
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
        val len = p.getFileSystem(new Configuration()).getFileStatus(p).getLen
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
    */
  def withDuplicates(chunks: Dataset[FileChunk]): Dataset[FileChunk] = {
    import chunks.sparkSession.implicits._
    val shift = 1 << 20
    // cache the base: both union branches share it, so the corpus is read
    // and hashed ONCE — the copies are derived rows, not a second pass
    val base = chunks.cache()
    base.union(base.map(c =>
      c.copy(file = c.file + "+copy", fileRank = c.fileRank + shift)))
  }

  /** Full naive/column pipeline on parquet or ORC inputs: chunk → flat dedup
    * → per-file + global stat rollup.
    */
  def flatDedupStats(spark: SparkSession, dir: String, fmt: Format,
                     duplicate: Boolean = false,
                     orcMode: OrcChunker.Mode = OrcChunker.Naive,
                     smallThreshold: Long = 0L): DataFrame = {
    val (suffix, dedupable) = fmt match {
      case Parquet => (".parquet", ChunkType.parquetDedupable)
      case Orc => (".orc", orcMode match {
        case OrcChunker.Naive => ChunkType.naiveOrcDedupable
        case _                => ChunkType.columnOrcDedupable
      })
    }
    val base = chunkFiles(spark, listFiles(dir, suffix), fmt, orcMode)
    val chunks = (if (duplicate) withDuplicates(base) else base).cache()
    val status = Dedup.flatStatus(chunks.toDF(), dedupable, smallThreshold)
    Stats.rollup(Stats.fromStatus(status).unionByName(timingStats(chunks)))
  }

  /** Hierarchical s+p pipeline on ORC inputs (SURVEY.md §2.4 J5). */
  def hierarchicalDedupStats(spark: SparkSession, dir: String,
                             duplicate: Boolean = false): DataFrame = {
    val base = chunkFiles(spark, listFiles(dir, ".orc"), Orc, OrcChunker.StripeColumn)
    val chunks = (if (duplicate) withDuplicates(base) else base).cache()
    val status = Dedup.hierarchicalStatus(chunks.toDF())
    Stats.rollup(Stats.fromStatus(status, emitSizes = true)
      .unionByName(timingStats(chunks)))
  }

  /** Incremental flat dedup against a persisted signature store (the
    * reference's long-lived server store as a batch API): probe ALL
    * existing batch partitions at `storeDir`, append this run's first
    * occurrences under the next NEGATIVE batch id, and return the stats
    * rollup.
    *
    * Batch-mode partitions descend from -1 while the streaming engine's
    * ascend from 0 (checkpoint-derived), so the two id sequences can never
    * collide — a resumed stream retrying micro-batch N overwrites only
    * `batch=N`, and its probe (`batch < N`) always includes every
    * batch-mode partition. One store can therefore be grown by CLI runs,
    * library calls, and the streaming engine interchangeably.
    */
  def incrementalFlatDedup(spark: SparkSession, storeDir: String,
                           chunks: Dataset[FileChunk], dedupable: Set[String],
                           smallThreshold: Long = 0L): DataFrame = {
    val cached = chunks.cache()
    val status = Dedup.flatStatus(cached.toDF(), dedupable, smallThreshold,
      store = StreamingEngine.readStore(spark, storeDir)).cache()
    try {
      // CLI bulk ingest is not latency-bound: always cluster on the bucket
      // value so one run writes ≤ NumSigBuckets files instead of
      // tasks × buckets (round-8 advice — the measured 8 192-file trap).
      StreamingEngine.writeStorePartition(
        status.filter(col("status") === "miss")
          .select(col("signature"), col("chunkType"), col("size")),
        s"$storeDir/batch=${StreamingEngine.nextCliBatchId(spark, storeDir)}",
        clusterBuckets = true)
      // rollup materializes before the caches are released
      Stats.rollup(Stats.fromStatus(status).unionByName(timingStats(cached)))
        .localCheckpoint(true)
    } finally {
      status.unpersist()
      cached.unpersist()
    }
  }

  /** S6: plain no-dedup baseline — fixed-size framing of the raw byte
    * stream (`net/SpeedupStreamer.java:50-134`, bufferSize default 4096).
    * A genuine content path: every frame's bytes are read and hashed (and
    * optionally carried), unlike a metadata-only size computation.
    */
  def plainFrames(spark: SparkSession, files: Seq[(String, Int)],
                  bufferSize: Int = 4096,
                  withContent: Boolean = false): Dataset[FileChunk] = {
    import spark.implicits._
    val n = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(n).flatMap { case (path, rank) =>
      val p = new Path(path)
      val fs = p.getFileSystem(new Configuration())
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

  /** S7: reconstruction sink — materialize each file as `destDir/<name>` by
    * ordered concatenation of resolved chunk contents
    * (`net/SpeedupReceiver.java:87-161`). Rows stream through the same
    * shuffle-sorted iterator as [[reconstructionCheck]] — no whole-file
    * buffer on any task. Returns one row per file: (file, dest, bytes).
    */
  def reconstructTo(chunks: Dataset[FileChunk], destDir: String): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      // top-level cover: everything except timing rows and OVERLAY columns
      // (StripeColumn mode); top-level Column chunks (ColumnBased mode,
      // parentSeq == -1) ARE the data cover and must be written
      .filter(c => c.parentSeq != -2 &&
        !(c.chunkType == ChunkType.Column && c.parentSeq != -1))
      .repartition(col("file"))
      .sortWithinPartitions(col("file"), col("seq"))
      .mapPartitions { rows =>
        val conf = new Configuration()
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

  /** S7: reconstruction check — ordered concatenation of top-level chunk
    * contents must be byte-identical to the source file. Returns one row per
    * file: (file, file_bytes, recon_bytes, identical).
    *
    * Shuffles only (file, seq, content) and verifies with a streaming SHA-1
    * per group — no whole-file buffer on the reduce side.
    */
  def reconstructionCheck(chunks: Dataset[FileChunk]): DataFrame =
    // same top-level cover rule as reconstructTo: drop timing rows and
    // overlay columns only — ColumnBased top-level Column chunks are data
    reconstructionCheckRows(chunks
      .filter(c => c.parentSeq != -2 &&
        !(c.chunkType == ChunkType.Column && c.parentSeq != -1))
      .toDF())

  /** Same check over an already cover-filtered chunk-content relation with
    * at least (file, seq, content).
    */
  def reconstructionCheckRows(chunkRows: DataFrame): DataFrame = {
    val spark = chunkRows.sparkSession
    import spark.implicits._
    chunkRows
      .select(col("file"), col("seq"), col("content"))
      .as[(String, Int, Array[Byte])]
      // Externally-sorted stream per file: Spark's shuffle sort orders rows
      // on disk, and the digest consumes them one by one — at no point does
      // a whole file's content sit in one task's heap.
      .repartition(col("file"))
      .sortWithinPartitions(col("file"), col("seq"))
      .mapPartitions { rows =>
        def finish(file: String, md: java.security.MessageDigest,
                   reconBytes: Long): (String, Long, Long, Boolean) = {
          val reconSha = md.digest().map("%02x".format(_)).mkString
          val p = new Path(file)
          val fs = p.getFileSystem(new Configuration())
          val len = fs.getFileStatus(p).getLen
          val buf = new Array[Byte](1 << 20)
          val md2 = java.security.MessageDigest.getInstance("SHA-1")
          val in = fs.open(p)
          try {
            var n = in.read(buf)
            while (n > 0) { md2.update(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          val origSha = md2.digest().map("%02x".format(_)).mkString
          (file, len, reconBytes, origSha == reconSha)
        }
        new Iterator[(String, Long, Long, Boolean)] {
          private var cur: String = _
          private var md: java.security.MessageDigest = _
          private var reconBytes = 0L
          private var pending: Option[(String, Long, Long, Boolean)] = None
          private def advance(): Unit = {
            while (pending.isEmpty && rows.hasNext) {
              val (file, _, content) = rows.next()
              if (cur != null && file != cur) {
                pending = Some(finish(cur, md, reconBytes))
                cur = null
              }
              if (cur == null) {
                cur = file
                md = java.security.MessageDigest.getInstance("SHA-1")
                reconBytes = 0L
              }
              md.update(content)
              reconBytes += content.length
            }
            if (pending.isEmpty && cur != null) {
              pending = Some(finish(cur, md, reconBytes))
              cur = null
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): (String, Long, Long, Boolean) = {
            advance(); val r = pending.get; pending = None; r
          }
        }
      }
      .toDF("file", "file_bytes", "recon_bytes", "identical")
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
    * re-read — because [[reconstructionCheckRows]] needs each file's bytes
    * in seq order on one task. This pass instead digests each maximal
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
    scp.getFileSystem(spark.sparkContext.hadoopConfiguration)
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
          val fs = p.getFileSystem(new Configuration())
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
    * by file — and compare digests. Returns the same relation as
    * [[reconstructionCheckRows]]: (file, file_bytes, recon_bytes,
    * identical), identical := every range digest matches AND recon_bytes
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
    val n = math.max(1, spark.sparkContext.defaultParallelism)
    ranged
      .repartition(n)
      .map { case (file, off, len, sha) =>
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
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
