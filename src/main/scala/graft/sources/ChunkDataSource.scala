package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import graft.cawd.{CawdEngine, FileChunk, OrcChunker, RegionHash}

/** DataSource V2 provider exposing structural chunk tables as a first-class
  * `spark.read` source:
  *
  * {{{
  * spark.read.format("graft-chunks")
  *   .option("format", "orc")          // or "parquet" (default)
  *   .option("orcMode", "stripecolumn") // naive | column | stripecolumn
  *   .load("/data/orc")                 // directory; suffix-filtered, sorted
  * }}}
  *
  * Schema = the FileChunk relation. COLUMN PRUNING IS LOAD-BEARING:
  *   - neither `signature` nor `content` projected → the scan is
  *     metadata-only (footers + headers; zero data bytes read);
  *   - `signature` only → [[RegionHash]] streams each bucket's byte range
  *     through a bounded window (hash-only dedup mode);
  *   - `content` → chunk bytes are materialized (reconstruction mode).
  *
  * Partition planning mirrors [[CawdEngine.chunkFiles]]: one input
  * partition per ~[[CawdEngine.SplitBytes]] byte-range bucket, so read
  * parallelism scales with bytes, not file count. Footers are read on the
  * driver during planning — fine for query-shaped use; the engine's
  * distributed two-stage path remains the bulk-pipeline entry.
  */
class ChunkDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-chunks"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChunkTable(properties.asScala.toMap)
}

object ChunkDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("fileRank", IntegerType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("chunkType", StringType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("colId", IntegerType, nullable = false),
    StructField("colType", StringType, nullable = false),
    StructField("parentSeq", IntegerType, nullable = false),
    StructField("signature", BinaryType, nullable = true),
    StructField("content", BinaryType, nullable = true)))
}

private[sources] class ChunkTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-chunks(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ChunkDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkScanBuilder(props ++ options.asScala)
}

private[sources] class ChunkScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = ChunkDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition(ChunkFilters.supports)
    pushed = supported
    rest // the source applies `pushed` EXACTLY; Spark evaluates only `rest`
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new ChunkScan(props, required, pushed)
}

/** Pushed-filter support for the two pruning-relevant columns:
  *
  *   - `file` predicates prune WHOLE FILES at plan time — the footer/header
  *     metadata read never happens for excluded files (the chunk relation's
  *     analogue of partition pruning: a file-glob query over a 10⁵-file
  *     directory plans only the matching files);
  *   - `chunkType` predicates prune chunk METAS inside each partition —
  *     excluded regions are never hashed or materialized (e.g.
  *     `chunkType = 'StripeData'` skips streaming every column region).
  *
  * Both are applied exactly (the row predicate and the prune predicate
  * test the same column values), so accepted filters are NOT re-evaluated
  * by Spark. Everything else stays a residual Spark filter.
  */
private[sources] object ChunkFilters {
  private val Cols = Set("file", "chunkType")

  def supports(f: Filter): Boolean = f match {
    case EqualTo(c, v) => Cols(c) && v.isInstanceOf[String]
    case In(c, vs) => Cols(c) && vs.forall(_.isInstanceOf[String])
    case StringStartsWith(c, _) => Cols(c)
    case StringEndsWith(c, _) => Cols(c)
    case StringContains(c, _) => Cols(c)
    case _ => false
  }

  private def predFor(filters: Seq[Filter], column: String): String => Boolean = {
    val ps = filters.collect {
      case EqualTo(c, v: String) if c == column => (s: String) => s == v
      case In(c, vs) if c == column =>
        val set = vs.collect { case v: String => v }.toSet
        (s: String) => set(s)
      case StringStartsWith(c, p) if c == column => (s: String) => s.startsWith(p)
      case StringEndsWith(c, p) if c == column => (s: String) => s.endsWith(p)
      case StringContains(c, p) if c == column => (s: String) => s.contains(p)
    }
    s => ps.forall(_(s))
  }

  def filePred(filters: Seq[Filter]): String => Boolean = predFor(filters, "file")
  def chunkTypePred(filters: Seq[Filter]): String => Boolean =
    predFor(filters, "chunkType")
}

private[sources] class ChunkScan(props: Map[String, String], required: StructType,
                                 filters: Array[Filter] = Array.empty)
    extends Scan with Batch with org.apache.spark.internal.Logging {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // surfaces the pushdown in .explain() the way FileSourceScan's
  // PushedFilters does (DSv2 renders Scan.description() in the plan node)
  override def description(): String =
    s"graft-chunks pushed=[${filters.mkString(", ")}]"

  /** Directories below this file count AND this total byte size plan on
    * the driver (a Spark job has ~ms overhead per launch; pointless for a
    * handful of footers). Either bound alone must trigger distribution:
    * planning walks every page header, so its cost scales with BYTES, not
    * file count — a 15 GB corpus of ten single-file tables measured 42 s
    * of driver-serial planning ahead of a 43 s distributed hash stage.
    * Option `distributedPlanThreshold` overrides the file-count bound —
    * tests set 1 to force the distributed path.
    */
  private val DistributedPlanCutoff =
    props.get("distributedplanthreshold").map(_.toInt).getOrElse(32)
  private val DistributedPlanBytes =
    props.get("distributedplanbytes").map(_.toLong).getOrElse(1L << 30)

  override def planInputPartitions(): Array[InputPartition] = {
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("graft-chunks: missing path"))
    val fmt = props.getOrElse("format", "parquet").toLowerCase match {
      case "orc"     => CawdEngine.Orc
      case "parquet" => CawdEngine.Parquet
      case other => throw new IllegalArgumentException(
        s"graft-chunks: unknown format '$other' (orc|parquet)")
    }
    // option keys arrive lowercased (CaseInsensitiveStringMap)
    val orcMode = props.getOrElse("orcmode", "stripecolumn").toLowerCase match {
      case "naive"        => OrcChunker.Naive
      case "column"       => OrcChunker.ColumnBased
      case "stripecolumn" => OrcChunker.StripeColumn
      case other => throw new IllegalArgumentException(
        s"graft-chunks: unknown orcMode '$other'")
    }
    val suffix = props.getOrElse("suffix",
      if (fmt == CawdEngine.Orc) ".orc" else ".parquet")
    // pushed `file` predicates prune whole files BEFORE any metadata read;
    // pushed `chunkType` predicates prune metas after the file plan, so
    // excluded regions are never hashed/streamed by the reader. Bucket
    // assignment runs BEFORE the chunkType prune: split boundaries stay a
    // pure function of the full file layout, so a filtered scan reads the
    // same byte windows it would have read unfiltered (just fewer of them).
    val filePred = ChunkFilters.filePred(filters.toSeq)
    val typePred = ChunkFilters.chunkTypePred(filters.toSeq)
    val files = CawdEngine.listFiles(path, suffix)
      .filter { case (f, _) => filePred(f) }
    def planOne(file: String, rank: Int): Seq[ChunkInputPartition] =
      CawdEngine.planFile(file, rank, fmt, orcMode)
        .pipe(ms => CawdEngine.assignBuckets(ms))
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, ms) =>
          ChunkInputPartition(file, ms.map(_._1).filter(m => typePred(m.chunkType)).toArray)
        }
        .filter(_.metas.nonEmpty)
    // Two-phase distributed planning: footer/header parsing is one metadata
    // read per file — serial on the driver it becomes the planner bottleneck
    // at 10⁴+ files, so beyond a small-directory cutoff the per-file plan
    // step itself runs as a Spark job (the partition descriptors that come
    // back are the same either way; read parallelism still scales with
    // BYTES via the in-file buckets).
    val totalBytes = {
      val conf = graft.HadoopConf.shared
      files.map { case (f, _) =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
    }
    if (files.length < DistributedPlanCutoff && totalBytes <= DistributedPlanBytes)
      files.flatMap { case (f, r) => planOne(f, r) }.toArray
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      val slices = graft.Sizing.planSlices(files.length, graft.Sizing.cores(spark))
      logInfo(s"graft-chunks: planning ${files.length} files distributed " +
        s"($slices slices)")
      spark.sparkContext
        .parallelize(files, slices)
        .flatMap { case (f, r) => planOne(f, r) }
        .collect()
        .sortBy(p => (p.metas.headOption.map(_.fileRank).getOrElse(0),
          p.metas.headOption.map(_.seq).getOrElse(0)))
        .toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fields = required.fieldNames
    val needHash = fields.contains("signature")
    val needContent = fields.contains("content")
    new ChunkReaderFactory(fields, needHash, needContent)
  }
}

private[sources] case class ChunkInputPartition(
    file: String, metas: Array[FileChunk]) extends InputPartition

private[sources] class ChunkReaderFactory(
    fields: Array[String], needHash: Boolean, needContent: Boolean)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkInputPartition]
    new PartitionReader[InternalRow] {
      private val it: Iterator[FileChunk] =
        if (needHash || needContent)
          RegionHash.hashChunks(p.file, p.metas.sortBy(_.seq).toSeq, needContent).iterator
        else p.metas.sortBy(_.seq).iterator
      private var cur: FileChunk = _
      override def next(): Boolean = { val has = it.hasNext; if (has) cur = it.next(); has }
      override def get(): InternalRow = InternalRow.fromSeq(fields.toSeq.map {
        case "file"      => UTF8String.fromString(cur.file)
        case "fileRank"  => cur.fileRank
        case "seq"       => cur.seq
        case "chunkType" => UTF8String.fromString(cur.chunkType)
        case "start"     => cur.start
        case "size"      => cur.size
        case "colId"     => cur.colId
        case "colType"   => UTF8String.fromString(cur.colType)
        case "parentSeq" => cur.parentSeq
        case "signature" => cur.signature
        case "content"   => cur.content
      })
      override def close(): Unit = ()
    }
  }
}
