package graft

import org.apache.spark.sql.SparkSession

/** The engine's one partition-count policy. Every shuffle-partition,
  * repartition and slice count in `src/main` comes from here, and this is
  * the only code that reads the core count.
  *
  * One rule, [[clamp]]: `max(floor, min(cap, volume / perPartition))`, the
  * floor applied LAST so a floor above the cap wins (a streaming drain on 4
  * cores still gets its 8 state stores). [[fullWaves]] is the round-17
  * full-wave rounding; only the dense vector session applies it (SCALE.md
  * "Wave quantization" measured it there; elsewhere it is unmeasured).
  *
  * The per-site policies below are pure in (volume, cores) so SizingSpec
  * pins each one without Spark; call sites pass [[cores]] of their session.
  */
object Sizing {

  /** Core count of the local master [[GraftSession.get]] starts:
    * `SPARK_GRAFT_CPUS`, else the available processors (at least 2). The
    * session's default shuffle-partition count is this same number.
    */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors()))

  /** Cores of a running session's context. */
  def cores(s: SparkSession): Int = s.sparkContext.defaultParallelism

  def clamp(volume: Long, perPartition: Long, floor: Long, cap: Long): Int =
    math.max(floor, math.min(cap, volume / perPartition)).toInt

  /** Counts at or above `cores` round down to a multiple of `cores`:
    * cores+2 partitions would run a full wave plus a 2-task straggler wave.
    */
  def fullWaves(n: Int, cores: Int): Int = if (n >= cores) n / cores * cores else n

  /** Compressed input bytes per shuffle partition for big relational
    * shuffles — the same 32 MB budget as the session's scan splits.
    */
  val InputBytesPerPartition: Long = 32L * 1024 * 1024

  /** A child sized by its dominant table's bytes (q04/q08 at
    * [[InputBytesPerPartition]], the fingerprint-export build at 2 MB):
    * floored at the core count, uncapped.
    */
  def forInput(bytes: Long, bytesPerPartition: Long, cores: Int): Int =
    clamp(bytes, bytesPerPartition, cores, Int.MaxValue)

  /** State stores of a streaming drain whose state is kilobytes
    * (s02/s03/s07): one state store and checkpoint tree per partition per
    * micro-batch, so more would be near-empty overhead.
    */
  val DrainStateParts = 8

  /** State stores of a drain whose per-row state work scales with input
    * (s04/s05/s06): events bytes at [[InputBytesPerPartition]], capped at
    * the cores, floored at [[DrainStateParts]].
    */
  def drainState(eventsBytes: Long, cores: Int): Int =
    clamp(eventsBytes, InputBytesPerPartition, DrainStateParts, cores)

  /** Dense vector session: ~64 k rows per partition plus 4, in [4, 64·cores],
    * in full waves once past the core count.
    */
  def denseVectors(rows: Long, cores: Int): Int =
    fullWaves(clamp(rows + 4 * 65536L, 65536L, 4, 64L * cores), cores)

  /** Connected-components star loop: 250 k nodes per partition in [8, 200]. */
  def ccLoop(nodes: Long): Int = clamp(nodes, 250000L, 8, 200)

  /** Streaming latency child: one partition per file in [2, cores]. */
  def streamLatency(nFiles: Int, cores: Int): Int =
    clamp(nFiles, 1, math.min(2, cores), cores)

  /** Per-file chunking tasks: a chunker walks one file sequentially, so
    * tasks beyond the file count only add launch overhead.
    */
  def chunkTasks(nFiles: Int, cores: Int): Int = clamp(nFiles, 1, 1, cores)

  /** Least file bytes worth a hash task of its own. */
  val HashTaskMinBytes: Long = 1L << 20

  /** Hash tasks of a chunking run over `bytes` of file content: one per
    * [[HashTaskMinBytes]] up to the core count, and beyond the cores one
    * per [[graft.cawd.CawdEngine.SplitBytes]], so no task reads more than
    * a split. At least one.
    */
  def hashTasks(bytes: Long, cores: Int): Int = {
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    math.max(1L, math.max(math.min(cores.toLong, ceilDiv(bytes, HashTaskMinBytes)),
      ceilDiv(bytes, graft.cawd.CawdEngine.SplitBytes))).toInt
  }

  /** Distributed chunk-source planning slices: up to 4 per core. */
  def planSlices(nFiles: Int, cores: Int): Int = clamp(nFiles, 1, 1, 4L * cores)

  /** [[Tables.spread]]: one partition per `rowsPerSlice` rows plus one, in
    * [cores, 64·cores].
    */
  def spread(rows: Long, rowsPerSlice: Long, cores: Int): Int =
    clamp(rows + rowsPerSlice, rowsPerSlice, cores, 64L * cores)
}
