package graft.cawd

import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, Reader, TypeDescription}
import org.apache.orc.OrcProto
import org.apache.orc.impl.{DataReaderProperties, InStream, OrcCodecPool, RecordReaderUtils}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Structural ORC chunkers — one metadata pass per file producing the ordered
  * chunk list, like the reference's `eagerChunking`
  * (`orc/dedup/NaiveORCChunkingAlgorithm.java:18-50`,
  * `ColumnBasedORCChunkingAlgorithm.java:21-97`,
  * `StripePlusColumnORCChunkingAlgorithm.java:25-119`).
  *
  * Differences from the reference (deliberate, SURVEY.md §4 defects 1/4 and
  * §7.4 hard part 2):
  *   - chunk offsets start at byte 0 and are contiguous (the reference's
  *     column variant shifted all offsets by the 3-byte magic);
  *   - per-column regions are derived from the stripe footer's stream list
  *     filtered by stream *kind* (index vs data area), not by the
  *     "first N streams are indexes" position heuristic;
  *   - the stripe footer protobuf is read through orc-core's `DataReader`,
  *     which decompresses it (the reference `parseFrom`'d raw bytes and only
  *     worked on uncompressed files).
  */
object OrcChunker {

  sealed trait Mode
  case object Naive        extends Mode // S1: stripe index/data/footer + tail
  case object ColumnBased  extends Mode // S2: per-column regions replace data
  case object StripeColumn extends Mode // S3: stripe chunks + column subchunks

  private val IndexAreaKinds: Set[OrcProto.Stream.Kind] = Set(
    OrcProto.Stream.Kind.ROW_INDEX,
    OrcProto.Stream.Kind.BLOOM_FILTER,
    OrcProto.Stream.Kind.BLOOM_FILTER_UTF8,
    OrcProto.Stream.Kind.ENCRYPTED_INDEX)

  /** Logical type name per ORC column id (root struct = id 0). Replaces the
    * reference's string-parse of `schema.toString`
    * (`StripePlusColumnORCChunkingAlgorithm.java:133-149`).
    */
  private def typeNames(schema: TypeDescription): Map[Int, String] = {
    val m = Map.newBuilder[Int, String]
    def walk(t: TypeDescription): Unit = {
      m += t.getId -> t.getCategory.getName
      val kids = t.getChildren
      if (kids != null) kids.asScala.foreach(walk)
    }
    walk(schema)
    m.result()
  }

  /** Chunk one ORC file. Emits contiguous top-level chunks covering
    * [0, fileLen); in [[StripeColumn]] mode additionally emits per-column
    * subchunks (parentSeq = the stripe-data chunk's seq) that overlay each
    * stripe's data region.
    */
  def chunk(pathStr: String, fileRank: Int, mode: Mode,
            withContent: Boolean = true): Seq[FileChunk] =
    RegionHash.hashChunks(pathStr, plan(pathStr, fileRank, mode), withContent)

  /** Metadata-only pass: footer + stripe-footer reads, NO data bytes. The
    * returned chunks carry offsets/sizes/lineage with empty signatures —
    * [[RegionHash.hashChunks]] (or the distributed split-level stage in
    * [[CawdEngine.chunkFiles]]) fills them in.
    */
  def plan(pathStr: String, fileRank: Int, mode: Mode): Seq[FileChunk] = {
    val conf = graft.HadoopConf.shared
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val fileLen = fs.getFileStatus(path).getLen
    val reader = OrcFile.createReader(path, OrcFile.readerOptions(conf))
    try {
      val stripes = reader.getStripes.asScala.toSeq
      val types = typeNames(reader.getSchema)

      // (type, start, size, colId, colType, parentIdx into metas)
      val metas = ArrayBuffer.empty[(String, Long, Long, Int, String, Int)]
      def add(t: String, start: Long, size: Long, colId: Int = -1,
              colType: String = "", parent: Int = -1): Unit =
        if (size > 0) metas += ((t, start, size, colId, colType, parent))

      val firstStripeOffset = stripes.headOption.map(_.getOffset).getOrElse(fileLen)
      add(ChunkType.Magic, 0L, firstStripeOffset)

      val needStreams = mode != Naive
      val dataReader = if (needStreams) {
        val codec = OrcCodecPool.getCodec(reader.getCompressionKind)
        val opts = InStream.options().withCodec(codec)
          .withBufferSize(reader.getCompressionSize)
        Some(RecordReaderUtils.createDefaultDataReader(
          DataReaderProperties.builder()
            .withFileSystem(fs).withPath(path).withCompression(opts).build()))
      } else None

      try {
        stripes.foreach { s =>
          val dataStart = s.getOffset + s.getIndexLength
          val indexIdx = metas.size
          add(ChunkType.StripeIndex, s.getOffset, s.getIndexLength)

          // Per-column regions from the stream list: data-area streams are
          // laid out after the index area, in list order; consecutive streams
          // of one column form its region (coalescing loop semantics of
          // ColumnBasedORCChunkingAlgorithm.java:57-97, kind-driven).
          lazy val columnRegions: Seq[(Int, Long, Long)] = {
            val sf = dataReader.get.readStripeFooter(s)
            var off = dataStart
            val regions = ArrayBuffer.empty[(Int, Long, Long)] // col, start, size
            sf.getStreamsList.asScala
              .filterNot(st => IndexAreaKinds.contains(st.getKind))
              .foreach { st =>
                regions.lastOption match {
                  case Some((c, rs, rl)) if c == st.getColumn =>
                    regions(regions.size - 1) = (c, rs, rl + st.getLength)
                  case _ =>
                    regions += ((st.getColumn, off, st.getLength))
                }
                off += st.getLength
              }
            if (off != dataStart + s.getDataLength) Seq.empty // layout surprise
            else regions.toSeq
          }

          // Linked chunks (J3): in StripeColumn mode the stripe-index and
          // stripe-footer chunks link to their stripe-data chunk so a
          // whole-stripe hit also resolves them
          // (StripePlusColumnORCChunkStore.java:25-31).
          var stripeIdx = -1
          mode match {
            case Naive =>
              add(ChunkType.StripeData, dataStart, s.getDataLength)
            case ColumnBased =>
              if (columnRegions.nonEmpty)
                columnRegions.foreach { case (c, rs, rl) =>
                  add(ChunkType.Column, rs, rl, c, types.getOrElse(c, ""))
                }
              else // fall back to one opaque data chunk
                add(ChunkType.StripeData, dataStart, s.getDataLength)
            case StripeColumn =>
              add(ChunkType.StripeData, dataStart, s.getDataLength)
              // add() skips zero-size chunks — only link when it appended
              if (metas.nonEmpty && metas.last._1 == ChunkType.StripeData)
                stripeIdx = metas.size - 1
              columnRegions.foreach { case (c, rs, rl) =>
                add(ChunkType.Column, rs, rl, c, types.getOrElse(c, ""), stripeIdx)
              }
              if (metas(indexIdx)._1 == ChunkType.StripeIndex)
                metas(indexIdx) = metas(indexIdx).copy(_6 = stripeIdx)
          }
          val footerIdx = metas.size
          add(ChunkType.StripeFooter, dataStart + s.getDataLength, s.getFooterLength)
          if (stripeIdx >= 0 && footerIdx < metas.size)
            metas(footerIdx) = metas(footerIdx).copy(_6 = stripeIdx)
        }
      } finally dataReader.foreach(_.close())

      val tailStart = stripes.lastOption
        .map(s => s.getOffset + s.getLength).getOrElse(firstStripeOffset)
      add(ChunkType.FileFooter, tailStart, fileLen - tailStart)

      metas.toSeq.zipWithIndex.map { case ((t, start, size, colId, colType, parent), seq) =>
        FileChunk(pathStr, fileRank, seq, t, start, size, colId, colType,
          if (parent >= 0) parent else -1, Array.emptyByteArray, Array.emptyByteArray)
      }
    } finally reader.close()
  }
}
