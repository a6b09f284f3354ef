package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every partition count the engine picks, pinned to the formula its call
  * site applied before [[Sizing]] became the one policy. Each site gets an
  * sf0.1-sized and a fifth-decade-sized volume, on 4, 8 and 32 cores; the
  * expected side is the site's own formula written out here, so a change
  * to any count has to change this table. The sites whose count is the
  * core count itself (the session default, stream-backfill, stream-stats,
  * Media.spread, the restore respread) take [[Sizing.cores]] and have no
  * formula to pin.
  */
class SizingSpec extends AnyFunSuite {

  private val MiB = 1024L * 1024

  /** `sizing` is what the call site now computes, `formula` what it
    * computed on its own; both map (volume, cores) to a count.
    */
  private case class Site(name: String, sf01: Long, fifthDecade: Long,
                          sizing: (Long, Int) => Int,
                          formula: (Long, Int) => Long)

  private def spreadFormula(slice: Long)(rows: Long, c: Int): Long =
    math.max(c.toLong, math.min(rows / slice + 1, 64L * c))

  private val sites = Seq(
    Site("q04/q08 sizedForInput, lineitem bytes", 10818932L, 10818932000L,
      (b, c) => Sizing.forInput(b, Sizing.InputBytesPerPartition, c),
      (b, c) => math.max(c.toLong, b / (32 * MiB))),
    Site("fp-build sizedForInput, documents bytes", 594568L, 810 * MiB,
      (b, c) => Sizing.forInput(b, 2 * MiB, c),
      (b, c) => math.max(c.toLong, b / (2 * MiB))),
    Site("s04/s05/s06 sizedStateParts, events bytes", 2045762L, 2045762000L,
      (b, c) => Sizing.drainState(b, c),
      (b, c) => math.max(8L, math.min(c.toLong, b / (32 * MiB)))),
    Site("s02/s03/s07 drain default", 2045762L, 2045762000L,
      (_, _) => Sizing.DrainStateParts, (_, _) => 8L),
    Site("vector denseSession, embeddings rows", 2000L, 2000000L,
      (r, c) => Sizing.denseVectors(r, c),
      { (rows, c) =>
        val r = math.max(4L, math.min(64L * c, rows / 65536L + 4))
        if (r >= c) r / c * c else r
      }),
    Site("cc-loop, edges", 5000L, 50000000L,
      (n, _) => Sizing.ccLoop(n),
      (n, _) => math.min(200L, math.max(8L, n / 250000L))),
    Site("stream-latency, files per batch", 10L, 2000L,
      (n, c) => Sizing.streamLatency(n.toInt, c),
      (n, c) => math.min(c.toLong, math.max(2L, n))),
    Site("stream-latency at stream start (cores)", 0L, 0L,
      (_, c) => Sizing.streamLatency(c, c), (_, c) => c),
    Site("CawdEngine/CdcChunker/StreamingEngine chunk tasks, files", 10L, 2000L,
      (n, c) => Sizing.chunkTasks(n.toInt, c),
      (n, c) => math.max(1L, math.min(n, c.toLong))),
    Site("CawdEngine/CdcChunker hash tasks, file bytes", 63L * MiB, 100000L * MiB,
      (b, c) => Sizing.hashTasks(b, c),
      (b, c) => math.max(math.min(c.toLong, (b + MiB - 1) / MiB),
        (b + 16 * MiB - 1) / (16 * MiB))),
    Site("ChunkDataSource planning slices, files", 10L, 2000L,
      (n, c) => Sizing.planSlices(n.toInt, c),
      (n, c) => math.min(n, 4L * c)),
    Site("Tables.spread documentsDense, rows", 5000L, 5000000L,
      (r, c) => Sizing.spread(r, 16384L, c), spreadFormula(16384L)),
    Site("Tables.spread embeddingsDense, rows", 2000L, 2000000L,
      (r, c) => Sizing.spread(r, 4096L, c), spreadFormula(4096L))
  )

  test("every call site's count equals its formula at sf0.1 and fifth-decade volumes") {
    for (site <- sites; v <- Seq(site.sf01, site.fifthDecade); c <- Seq(4, 8, 32))
      assert(site.sizing(v, c).toLong == site.formula(v, c),
        s"${site.name}: volume $v on $c cores")

    // floor beats cap: a drain on 4 cores over a big events table gets 8
    assert(Sizing.drainState(2045762000L, 4) == 8)
    // the values the docs quote: dense sf0.1 stays at 4 partitions, the
    // fifth decade rounds 34 down to one 32-task wave, and the
    // fingerprint build gets ~405 partitions over 810 MB of documents
    assert(Sizing.denseVectors(2000L, 32) == 4)
    assert(Sizing.denseVectors(2000000L, 32) == 32)
    assert(Sizing.forInput(810 * MiB, 2 * MiB, 32) == 405)
    // hash tasks: the 63 MB orc_versions run fills 4 cores, a 0.23 MB
    // stream wave and an empty run take one task, and past the cores each
    // task reads at most one 16 MiB split
    assert(Sizing.hashTasks(63L * MiB, 4) == 4)
    assert(Sizing.hashTasks(230L * 1024, 4) == 1)
    assert(Sizing.hashTasks(0L, 4) == 1)
    assert(Sizing.hashTasks(100L * 1024 * MiB, 32) == 6400)
    // the session default reads the same core count GraftSession.get used
    assert(Sizing.localCores == sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors())))
  }
}
