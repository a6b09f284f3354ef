package graft.cawd

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The dedup variants, each defined once: the reference's four client/server
  * script pairs (`scripts/{orc/naive,orc/column,orc/stripe+column,
  * parquet/naive}`, SURVEY.md §0) plus the content-defined chunking
  * baseline. A variant is one decision — which files, how they are chunked,
  * which chunk types probe the store above which size, and flat or cascade
  * — and every caller ([[CawdEngine.dedupStats]], the CLI, the c-pack and
  * its DuckDB oracle, the streaming engine) reads it from here.
  */
sealed abstract class Variant(val name: String, val suffix: String) {

  /** Chunk `files` (path, fileRank); `withContent` carries the chunk bytes
    * for a reconstruction sink.
    */
  def chunk(spark: SparkSession, files: Seq[(String, Int)],
            withContent: Boolean = false): Dataset[FileChunk]

  /** Each chunk's dedup status (`raw`, `small`, `hit`, `miss`, …) over one
    * chunk set, first occurrences in (fileRank, seq) order.
    */
  def status(chunks: DataFrame): DataFrame

  /** Whether the stats carry StripeSize / FooterSize / TotalBytes rows. */
  def emitSizes: Boolean = false
}

object Variant {

  /** One store probe over the top-level chunks whose type is in
    * `dedupable` and whose size exceeds `threshold` ([[Dedup.flatStatus]]).
    * Only flat variants can also probe a persisted signature store.
    */
  sealed abstract class Flat(name: String, suffix: String,
                             val dedupable: Set[String], val threshold: Long)
      extends Variant(name, suffix) {
    def status(chunks: DataFrame): DataFrame = status(chunks, None)
    def status(chunks: DataFrame, store: Option[DataFrame]): DataFrame =
      Dedup.flatStatus(chunks, dedupable, threshold, store)
  }

  /** A flat variant chunked by file structure; the streaming engine runs
    * these over files whose lengths it holds ([[chunkSized]]), or over a
    * distributed list whose byte offsets it ranked ([[chunkPlaced]]).
    */
  sealed abstract class Structural(name: String, suffix: String,
                                   fmt: CawdEngine.Format, orcMode: OrcChunker.Mode,
                                   dedupable: Set[String], threshold: Long)
      extends Flat(name, suffix, dedupable, threshold) {
    def chunk(spark: SparkSession, files: Seq[(String, Int)],
              withContent: Boolean = false): Dataset[FileChunk] =
      CawdEngine.chunkFiles(spark, files, fmt, orcMode, withContent)
    def chunkSized(spark: SparkSession, files: Seq[(String, Int, Long)]): Dataset[FileChunk] =
      CawdEngine.chunkSized(spark, files, fmt, orcMode)
    def chunkPlaced(files: Dataset[(String, Int, Long)], totalBytes: Long): Dataset[FileChunk] =
      CawdEngine.chunkPlaced(files, totalBytes, fmt, orcMode)
  }

  /** S1: whole stripes and the file footer (`orc/net/NaiveORCStreamer.java:124-141`). */
  case object OrcNaive extends Structural("orc-naive", ".orc", CawdEngine.Orc,
    OrcChunker.Naive, ChunkType.naiveOrcDedupable, 0L)

  /** S2+P3: per-column regions with the 50 B small-column bypass
    * (`orc/net/ColumnBasedORCStreamer.java:109`).
    */
  case object OrcColumn extends Structural("orc-column", ".orc", CawdEngine.Orc,
    OrcChunker.ColumnBased, ChunkType.columnOrcDedupable, 50L)

  /** S4: parquet data and dictionary pages. */
  case object Parquet extends Structural("parquet", ".parquet", CawdEngine.Parquet,
    OrcChunker.Naive, ChunkType.parquetDedupable, 0L)

  /** Content-defined chunking baseline ([[CdcChunker]]) over any file type. */
  case object Cdc extends Flat("cdc", "", ChunkType.cdcDedupable, 0L) {
    def chunk(spark: SparkSession, files: Seq[(String, Int)],
              withContent: Boolean = false): Dataset[FileChunk] =
      CdcChunker.chunkFiles(spark, files, withContent)
  }

  /** S3: the stripe→column cascade ([[Dedup.hierarchicalStatus]], SURVEY.md
    * §2.4 J5). Its three stores live within one run, so it probes no
    * persisted store.
    */
  case object OrcSp extends Variant("orc-sp", ".orc") {
    def chunk(spark: SparkSession, files: Seq[(String, Int)],
              withContent: Boolean = false): Dataset[FileChunk] =
      CawdEngine.chunkFiles(spark, files, CawdEngine.Orc, OrcChunker.StripeColumn,
        withContent)
    def status(chunks: DataFrame): DataFrame = Dedup.hierarchicalStatus(chunks)
    override def emitSizes: Boolean = true
  }

  val all: Seq[Variant] = Seq(OrcNaive, OrcColumn, OrcSp, Parquet, Cdc)

  /** The variant a CLI mode names. */
  def byName(name: String): Option[Variant] = all.find(_.name == name)
}
