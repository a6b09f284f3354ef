package graft.cawd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Content-defined chunking (CDC) baseline — the dedup literature's
  * standard alternative to the reference's structural chunking (SURVEY.md
  * §0: the reference cuts at format boundaries precisely because fixed and
  * content-defined cuts miss columnar structure). Implementing the CDC
  * baseline makes that trade-off measurable inside this engine: run c03
  * (structural) and c09 (CDC) on the same corpus and compare DedupBytes.
  *
  * Algorithm: gear rolling hash with FastCDC-style min/avg/max bounds
  * (Xia et al., FAST'16). A cut-point candidate is any position whose
  * 64-byte gear window satisfies `(h & AvgMask) == 0`; real cut points are
  * then selected left-to-right under min/max constraints.
  *
  * Scale design — the two-stage split (after SS-CDC, Ni et al.): candidate
  * detection depends only on the surrounding 64 bytes, so stage 1 scans
  * ~[[CawdEngine.SplitBytes]] segments IN PARALLEL (each segment warms up
  * its rolling hash on the previous segment's last 63 bytes, making
  * candidates bit-identical to a sequential scan). Stage 2 — applying
  * min/max bounds over the candidate POSITIONS — is sequential per file but
  * touches metadata only (~one Long per ~2 KB of data). Stage 3 reuses
  * [[RegionHash]]'s bucketed streaming hasher. Parallelism in stages 1 and
  * 3 scales with bytes, not file count: a 10 GB file is ~640 concurrent
  * tasks, never one straggler.
  */
object CdcChunker {

  /** Chunk-size bounds (bytes). Avg is a power of two: the candidate mask
    * keeps `log2(Avg)` hash bits, giving expected chunk size ≈ Avg between
    * Min/Max clamps.
    */
  val MinSize = 2048L
  val AvgSize = 8192L
  val MaxSize = 65536L

  /** Candidate mask: log2(Avg) one-bits spread across the hash's UPPER
    * bits (every third position down from bit 63), giving P(candidate) =
    * 1/Avg. Upper bits are essential: in `h = (h << 1) + gear(b)` a byte
    * of age `a` contributes `gear << a`, so bit 63 mixes the full 64-byte
    * window and the lowest masked bit (63 − 3·(log2(Avg)−1) = 27 for the
    * 8 KiB default) still mixes the last 28 bytes — whereas the naive
    * `Avg − 1` low-bits mask examines only the last 13 bytes and collapses
    * boundary quality to a short rolling hash on repetitive data. Same
    * reasoning as FastCDC's published spread masks; derived from AvgSize
    * so the two cannot drift apart.
    */
  private val AvgMask: Long = {
    val bits = java.lang.Long.numberOfTrailingZeros(AvgSize) // log2(Avg)
    require(AvgSize == (1L << bits), "AvgSize must be a power of two")
    require(63 - 3 * (bits - 1) >= 16, "mask bits must stay in the upper hash")
    (0 until bits).map(i => 1L << (63 - 3 * i)).reduce(_ | _)
  }

  /** Rolling window: gear shifts one bit per byte, so a byte's influence
    * lasts exactly 64 steps on a 64-bit hash.
    */
  val WindowBytes = 64

  /** Deterministic gear table: first 8 bytes of SHA-1("gear:<i>") per byte
    * value. Public derivation — both engines (and any re-implementation)
    * can rebuild it bit-identically.
    */
  private[cawd] lazy val Gear: Array[Long] = Array.tabulate(256) { i =>
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"gear:$i".getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Stage 1 (pure, per segment): cut-point candidates in
    * `[segStart, segEnd)` of one file. Reads `[segStart - 63, segEnd)` so
    * the rolling hash is fully warmed at `segStart` — candidates are
    * independent of the segmentation. Positions are EXCLUSIVE chunk ends:
    * a candidate at p means "a chunk may end at p" (p = index after the
    * window's last byte).
    */
  private[cawd] def candidatesInSegment(pathStr: String, segStart: Long,
                                        segEnd: Long): Seq[Long] = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(graft.HadoopConf.shared)
    val warm = math.max(0L, segStart - (WindowBytes - 1))
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val buf = new Array[Byte](4 << 20)
    var h = 0L
    var pos = warm
    val in = fs.open(p)
    try {
      while (pos < segEnd) {
        val toRead = math.min(buf.length.toLong, segEnd - pos).toInt
        in.readFully(pos, buf, 0, toRead)
        var i = 0
        while (i < toRead) {
          h = (h << 1) + Gear((buf(i) & 0xff))
          val cut = pos + i + 1 // exclusive end after this byte
          if ((h & AvgMask) == 0 && cut > segStart && cut <= segEnd)
            out += cut
          i += 1
        }
        pos += toRead
      }
    } finally in.close()
    out.toSeq
  }

  /** Stage 2 (pure, metadata-only): select real cut points from the sorted
    * candidate list under min/max bounds — greedy left-to-right, forcing a
    * cut at `last + MaxSize` when no candidate lands in
    * `(last + MinSize, last + MaxSize]`. Returns exclusive chunk ends
    * (always ending with `fileLen`).
    */
  private[cawd] def selectCuts(candidates: Seq[Long], fileLen: Long): Seq[Long] = {
    // primitive array path: no boxing on the ~size/2KB candidate list
    val sorted = candidates.toArray.distinct.sorted
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = 0L
    var i = 0
    while (last < fileLen) {
      while (i < sorted.length && sorted(i) < last + MinSize) i += 1
      val limit = math.min(last + MaxSize, fileLen)
      val cut =
        if (fileLen - last <= MaxSize && i >= sorted.length) fileLen
        else if (i < sorted.length && sorted(i) <= limit) { val c = sorted(i); i += 1; c }
        else limit
      cuts += cut
      last = cut
    }
    cuts.toSeq
  }

  /** Chunk `files` by content-defined boundaries into the same
    * `Dataset[FileChunk]` shape as [[CawdEngine.chunkFiles]] — chunkType
    * [[ChunkType.CdcChunk]], contiguous cover starting at 0 — so dedup,
    * stats, export, and reconstruction all run unchanged downstream.
    */
  def chunkFiles(spark: SparkSession, files: Seq[(String, Int)],
                 withContent: Boolean = false): Dataset[FileChunk] = {
    import spark.implicits._
    // file lengths resolved ON EXECUTORS (one serial driver-side RPC per
    // file would be the exact startup bottleneck the structural planner
    // avoids), then exploded into ~SplitBytes segment work units
    // (path, rank, segStart, segEnd, fileLen) and respread across tasks.
    val segs = CawdEngine.spreadFiles(spark, files)
      .flatMap { case (path, rank) =>
        val p = new Path(path)
        val len = p.getFileSystem(graft.HadoopConf.shared).getFileStatus(p).getLen
        if (len == 0) Iterator.single((path, rank, 0L, 0L, 0L))
        else (0L until len by CawdEngine.SplitBytes).iterator.map { s =>
          (path, rank, s, math.min(s + CawdEngine.SplitBytes, len), len)
        }
      }
      .repartition(graft.Sizing.cores(spark))
    // candidate rows (path, rank, fileLen, cutPos); the segment at offset 0
    // also emits a cutPos = -1 sentinel so every file — including ones with
    // no candidates at all — reaches the stage-2 group
    val candidates = segs
      .flatMap { case (path, rank, s, e, len) =>
        val sentinel = if (s == 0) Iterator.single((path, rank, len, -1L))
                       else Iterator.empty
        val cuts = if (len == 0) Iterator.empty
          else candidatesInSegment(path, s, e).iterator.map(c => (path, rank, len, c))
        sentinel ++ cuts
      }
    // Stage 2 groups ~one Long per ~2 KB of file data per file — metadata
    // only; the heavy byte work stays in stages 1 and 3. Candidates buffer
    // as PRIMITIVE longs (a 10 GB file is ~5M candidates = ~40 MB), never
    // as row tuples.
    val metas = candidates
      .groupByKey { case (path, _, _, _) => path }
      .flatMapGroups { (path, it) =>
        val first = it.next()
        val (_, rank, len, c0) = first
        val buf = scala.collection.mutable.ArrayBuilder.make[Long] // unboxed
        if (c0 >= 0) buf += c0
        it.foreach { r => if (r._4 >= 0) buf += r._4 }
        cutsToMetas(path, rank, len,
          selectCuts(scala.collection.immutable.ArraySeq.unsafeWrapArray(buf.result()), len)).iterator
      }
    // Stage 3: bucketed streaming hash, one task per ~SplitBytes of content.
    // A chunk is bucketed by its start; RegionHash reads each group's exact
    // covered range, so a chunk straddling a bucket edge just extends its
    // group's read slightly past the edge.
    metas
      .groupByKey(c => (c.file, (c.start / CawdEngine.SplitBytes).toInt))
      .flatMapGroups { (key: (String, Int), it: Iterator[FileChunk]) =>
        RegionHash.hashChunks(key._1, it.toArray.sortBy(_.seq).toSeq,
          withContent).iterator
      }
  }

  private def cutsToMetas(path: String, rank: Int, len: Long,
                          cuts: Seq[Long]): Seq[FileChunk] = {
    if (len == 0) // zero-byte file: one empty chunk keeps the file visible
      return Seq(FileChunk(path, rank, 0, ChunkType.CdcChunk, 0, 0, -1, "", -1,
        Array.emptyByteArray, Array.emptyByteArray))
    var start = 0L
    cuts.zipWithIndex.map { case (end, i) =>
      val c = FileChunk(path, rank, i, ChunkType.CdcChunk, start, end - start,
        -1, "", -1, Array.emptyByteArray, Array.emptyByteArray)
      start = end
      c
    }
  }
}
