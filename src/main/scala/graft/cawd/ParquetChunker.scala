package graft.cawd

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Structural Parquet chunker — page-level chunks computed from PUBLIC
  * parquet-hadoop/parquet-format APIs (footer via `ParquetFileReader`, page
  * boundaries via `Util.readPageHeader` over bounded windows of the raw
  * column-chunk bytes).
  *
  * The reference needed a forked parquet-mr to do this
  * (`parquet/dedup/NaiveParquetChunkingAlgorithm.java:39-129`, fork-only
  * symbols at `:109,:117`; README.md:5-23). We slice original file bytes
  * instead of re-serializing headers/footers, which is strictly safer for
  * byte-identity (SURVEY.md §7.4 hard part 1).
  *
  * Memory is bounded: the planning pass reads the footer plus one small
  * window per page header (thrift-compact headers are self-delimiting);
  * hashing streams through [[RegionHash]]. No whole-file buffer, no Int
  * offsets — multi-GiB files are fine.
  *
  * Regions not claimed by header/page/footer chunks (column indexes, bloom
  * filters, padding) are emitted as `Regular` chunks so the chunk list is
  * contiguous over [0, fileLen) and reconstruction is plain concatenation.
  */
object ParquetChunker {

  def chunk(pathStr: String, fileRank: Int,
            withContent: Boolean = true): Seq[FileChunk] =
    RegionHash.hashChunks(pathStr, plan(pathStr, fileRank), withContent)

  /** Metadata-only pass: footer + per-page-header bounded reads. Returned
    * chunks carry offsets/sizes with empty signatures.
    */
  def plan(pathStr: String, fileRank: Int): Seq[FileChunk] = {
    val conf = graft.HadoopConf.shared
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val fileLen = fs.getFileStatus(path).getLen

    val footer = {
      val reader = ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      try reader.getFooter finally reader.close()
    }

    val metas = ArrayBuffer.empty[(String, Long, Long, Int, String)]
    def add(t: String, start: Long, size: Long, colId: Int = -1,
            colType: String = ""): Unit =
      if (size > 0) metas += ((t, start, size, colId, colType))

    add(ChunkType.Magic, 0L, 4L) // "PAR1"

    val in = fs.open(path)
    try {
      // Page headers are parsed through ONE reused streaming window rather
      // than a positioned read per header: headers are tens of bytes every
      // page (~36 KB apart on typical files), so a 64 KiB pread per header
      // costs ~1.8× the file in scattered syscalls plus a fresh buffer
      // allocation each — measured at the 15 GB fifth-decade corpus as the
      // dominant term of the driver-serial plan pass (42 s of c01's 86 s
      // DSv2 scan). The 4 MiB window turns that into ~1× file bytes of
      // sequential reads through a single buffer; each reload guarantees
      // HeaderBudget bytes past `pos`, so a straddling header can only
      // happen if it exceeds the budget — handled by the grow fallback.
      val Window = 4 << 20
      val HeaderBudget = 64 << 10 // a sane thrift page header is tens of bytes
      val winBuf = new Array[Byte](Window)
      var winStart = 0L
      var winEnd = 0L // exclusive; bytes of winBuf currently valid

      // Fallback for a header longer than HeaderBudget (stats-laden
      // pathological headers): the old grow-window positioned read, for
      // this header only.
      def growReadHeaderAt(pos: Long, end: Long): (org.apache.parquet.format.PageHeader, Int) = {
        val MaxWindow = 1 << 24
        var window = HeaderBudget * 4
        while (true) {
          val len = math.min(window.toLong, end - pos).toInt
          val buf = new Array[Byte](len)
          in.readFully(pos, buf, 0, len)
          val bis = new ByteArrayInputStream(buf)
          val before = bis.available()
          try {
            val h = Util.readPageHeader(bis)
            return (h, before - bis.available())
          } catch {
            case _: Exception if len < (end - pos) && window < MaxWindow =>
              window *= 4 // header straddled the window; retry larger
            case e: Exception =>
              // corrupt/lying footer — fail fast so planFile degrades the
              // whole file to one ERROR chunk instead of looping
              throw new IllegalStateException(
                s"unparseable page header at $pos (window $len)", e)
          }
        }
        throw new IllegalStateException("unreachable")
      }

      def readHeaderAt(pos: Long, end: Long): (org.apache.parquet.format.PageHeader, Int) = {
        val want = math.min(HeaderBudget.toLong, end - pos)
        if (pos < winStart || pos + want > winEnd) {
          val len = math.min(Window.toLong, fileLen - pos).toInt
          in.readFully(pos, winBuf, 0, len)
          winStart = pos
          winEnd = pos + len
        }
        val off = (pos - winStart).toInt
        val avail = (math.min(winEnd, end) - pos).toInt
        val bis = new ByteArrayInputStream(winBuf, off, avail)
        val before = bis.available()
        try {
          val h = Util.readPageHeader(bis)
          (h, before - bis.available())
        } catch {
          case e: Exception =>
            if (avail < (end - pos)) growReadHeaderAt(pos, end)
            else throw new IllegalStateException(
              s"unparseable page header at $pos (window $avail)", e)
        }
      }

      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.zipWithIndex.foreach { case (cc, colId) =>
          val colType = cc.getPrimitiveType.getPrimitiveTypeName.name
          var pos = cc.getStartingPos
          val end = cc.getStartingPos + cc.getTotalSize
          while (pos < end) {
            val (header, headerLen) = readHeaderAt(pos, end)
            add(ChunkType.PageHeader, pos, headerLen, colId, colType)
            val bodyType = header.getType match {
              case PageType.DICTIONARY_PAGE => ChunkType.DictPage
              case PageType.DATA_PAGE       => ChunkType.DataPageV1
              case PageType.DATA_PAGE_V2    => ChunkType.DataPageV2
              case PageType.INDEX_PAGE      => ChunkType.IndexPage
              case _                        => ChunkType.Regular
            }
            add(bodyType, pos + headerLen, header.getCompressed_page_size.toLong,
              colId, colType)
            pos += headerLen + header.getCompressed_page_size
          }
        }
      }

      // File tail: 4-byte footer length + "PAR1" magic; the serialized footer
      // sits immediately before it.
      val afterFooterStart = fileLen - 8
      val tail = new Array[Byte](4)
      in.readFully(afterFooterStart, tail, 0, 4)
      val footerLenLE = java.nio.ByteBuffer.wrap(tail)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      add(ChunkType.ParquetFooter, afterFooterStart - footerLenLE, footerLenLE.toLong)
      add(ChunkType.AfterFooter, afterFooterStart, 8L)
    } finally in.close()

    // Fill uncovered regions (column/offset indexes, padding) as Regular.
    val sorted = metas.sortBy(_._2)
    val full = ArrayBuffer.empty[(String, Long, Long, Int, String)]
    var cursor = 0L
    sorted.foreach { m =>
      if (m._2 > cursor) full += ((ChunkType.Regular, cursor, m._2 - cursor, -1, ""))
      full += m
      cursor = m._2 + m._3
    }
    if (cursor < fileLen) full += ((ChunkType.Regular, cursor, fileLen - cursor, -1, ""))

    full.toSeq.zipWithIndex.map { case ((t, start, size, colId, colType), seq) =>
      FileChunk(pathStr, fileRank, seq, t, start, size, colId, colType, -1,
        Array.emptyByteArray, Array.emptyByteArray)
    }
  }
}
