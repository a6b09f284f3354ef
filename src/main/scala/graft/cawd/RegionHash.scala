package graft.cawd

import java.security.MessageDigest

import org.apache.hadoop.fs.Path

import scala.collection.mutable

/** Streaming hasher for chunk regions: reads the covered byte range ONCE
  * through a bounded window, updating one SHA-1 per region as bytes flow by.
  * Memory is O(window + #regions·digest) in hash-only mode — never O(file) —
  * so multi-GiB files (the 100 TB corpus case) stream through a fixed
  * buffer. All offsets are Long; nothing truncates to Int.
  *
  * Regions may overlap (stripe+column mode overlays per-column subchunks on
  * the stripe's data region, SURVEY.md §2.1 S3) — overlapping regions'
  * digests are fed from the same window pass. Gaps between regions are
  * skipped by seeking, so hashing a few regions of a huge file reads only
  * those regions.
  */
object RegionHash {

  private val Window = 4 << 20

  /** Fill `signature` (and `content` when `withContent`) for every meta of
    * one file. Metas must be sorted by nondecreasing `start`.
    *
    * With `withContent` the per-chunk byte arrays are materialized (the
    * caller keeps them anyway) — that mode is for small-scale
    * reconstruction/tests; the at-scale dedup path runs hash-only.
    */
  def hashChunks(pathStr: String, metas: Seq[FileChunk],
                 withContent: Boolean): Seq[FileChunk] = {
    // zero-size regions (e.g. the ERROR chunk of an empty file) never enter
    // the streaming loop: digest of zero bytes, done — the loop's
    // activation condition (start < window end) can never fire for them
    val (empty, nonEmpty) = metas.partition(_.size == 0)
    val emptyHashed = empty.map(_.copy(
      signature = java.security.MessageDigest.getInstance("SHA-1").digest(),
      content = Array.emptyByteArray))
    if (nonEmpty.isEmpty) return (emptyHashed ++ Nil).sortBy(_.seq)
    val path = new Path(pathStr)
    val fs = path.getFileSystem(graft.HadoopConf.shared)
    val n = nonEmpty.length
    val starts = nonEmpty.map(_.start).toArray
    val ends = nonEmpty.map(m => m.start + m.size).toArray
    require(starts.indices.drop(1).forall(i => starts(i) >= starts(i - 1)),
      s"metas not sorted by start for $pathStr")

    val digests = new Array[MessageDigest](n)
    val contents = new Array[Array[Byte]](n)
    val filled = new Array[Int](n)
    val sigs = new Array[Array[Byte]](n)

    val buf = new Array[Byte](Window)
    val active = mutable.SortedSet.empty[Int]
    var nextIdx = 0
    var pos = starts(0)
    val fileEnd = ends.max
    val in = fs.open(path)
    try {
      while (nextIdx < n || active.nonEmpty) {
        if (active.isEmpty && nextIdx < n && starts(nextIdx) > pos)
          pos = starts(nextIdx) // skip gap
        val limit = if (active.isEmpty) fileEnd
          else math.min(fileEnd, if (nextIdx < n) math.max(active.map(ends(_)).max, starts(nextIdx)) else fileEnd)
        val toRead = math.min(buf.length.toLong, limit - pos).toInt
        in.readFully(pos, buf, 0, toRead)
        val wEnd = pos + toRead
        while (nextIdx < n && starts(nextIdx) < wEnd) {
          digests(nextIdx) = MessageDigest.getInstance("SHA-1")
          if (withContent) {
            require(nonEmpty(nextIdx).size <= Int.MaxValue,
              s"withContent requires chunks < 2 GiB (${nonEmpty(nextIdx).size} at ${nonEmpty(nextIdx).chunkType})")
            contents(nextIdx) = new Array[Byte](nonEmpty(nextIdx).size.toInt)
          }
          active += nextIdx
          nextIdx += 1
        }
        val finished = mutable.ArrayBuffer.empty[Int]
        active.foreach { i =>
          val from = math.max(starts(i), pos)
          val until = math.min(ends(i), wEnd)
          if (until > from) {
            val off = (from - pos).toInt
            val len = (until - from).toInt
            digests(i).update(buf, off, len)
            if (withContent) {
              System.arraycopy(buf, off, contents(i), filled(i), len)
              filled(i) += len
            }
          }
          if (ends(i) <= wEnd) finished += i
        }
        finished.foreach { i =>
          sigs(i) = digests(i).digest()
          digests(i) = null
          active -= i
        }
        pos = wEnd
      }
    } finally in.close()

    val hashed = nonEmpty.zipWithIndex.map { case (m, i) =>
      m.copy(signature = sigs(i),
        content = if (withContent) contents(i) else Array.emptyByteArray)
    }
    (hashed ++ emptyHashed).sortBy(_.seq)
  }
}
