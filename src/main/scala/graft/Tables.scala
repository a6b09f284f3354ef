package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided corpus (TESTDATA.md).
  *
  * One parquet file per table under the scale-factor dir. All queries read
  * through here so column pruning / predicate pushdown reach the scan.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize `events.ts` to session-zoned TIMESTAMP whatever physical
    * type the corpus generator used that round:
    *   - TIMESTAMP(NANOS) surfaces as LONG nanos (via
    *     `spark.sql.legacy.parquet.nanosAsLong`) → truncate to micros;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
    *     TIMESTAMP_NTZ → cast (session tz is pinned UTC, so the wall-clock
    *     values map 1:1 to the instants DuckDB's naive `epoch()` sees).
    * Downstream needs the zoned type: streaming watermarks reject NTZ
    * ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]), and `unix_timestamp`/
    * `unix_micros` arithmetic assumes it.
    */
  private[graft] def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** On-disk bytes of a corpus table (`getContentSummary`, so a
    * directory-shaped table sums its part files); None when the size
    * cannot be read. Callers choose their own fallback for None.
    */
  private[graft] def tableBytes(s: SparkSession, d: String, table: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame   = fixEventTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Parallelism for CPU-dense derivations must follow ROWS, not bytes.
    *
    * Compressed columnar inputs pack enormous derived work (per-gram MD5s,
    * per-cell cosine scoring, codec passes) into few bytes: a 100× corpus's
    * documents table is 80 MB — a single parquet row group — so the
    * byte-driven scan planner hands the entire derivation stage ONE task
    * while the other cores idle, and that lone map task's aggregate hash
    * spills. This is the shared root cause of the superlinear 10×→100×
    * growth BENCH_sf10 caught in d17/d26/e03/e07/m04 (31-104× per decade
    * where the work grows ~10×). A round-robin repartition sized from the
    * row count puts the dense stage on every core; the shuffle moves only
    * the raw rows — orders of magnitude cheaper than the dense work that
    * justifies calling this. Narrow CHEAP projections (d16, d18) stay
    * zero-shuffle — their per-row work is a split/compare, so an exchange
    * costs more than single-core scanning saves. But any per-BYTE kernel
    * pass (winnow, NFC, regex scrub — d09/d19/d20 since round 9) must
    * come through here: at 100× the zero-shuffle forms ran their whole
    * kernel in the scan's 1-2 row-group-bound tasks (d09 12.6 s, d20
    * 14.2 s, vs d26 doing MORE winnow work in 4 s above a spread).
    */
  def spread(df: DataFrame, rowsPerSlice: Long, memoKey: String = ""): DataFrame = {
    val rows =
      if (memoKey.isEmpty) df.count()              // metadata-cheap on parquet
      else rowCountMemo.computeIfAbsent(memoKey, _ => df.count()).longValue()
    df.repartition(Sizing.spread(rows, rowsPerSlice, Sizing.cores(df.sparkSession)))
  }

  /** Row counts per corpus file, memoized for the JVM's lifetime: ~30 dense
    * queries per session each triggered one count job over an IMMUTABLE
    * parquet file (the driver's testdata never changes under a running
    * session). Keyed by the file path, so every session sharing the JVM
    * reuses one count per table. Callers deriving from anything mutable
    * must use the no-memo form (empty key).
    */
  private val rowCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized row count of an immutable corpus table (same memo
    * [[spread]] uses, so a caller sizing a session from the count shares
    * the one count job with the dense loader that follows it).
    */
  private[graft] def memoizedCount(df: DataFrame, key: String): Long =
    rowCountMemo.computeIfAbsent(key, _ => df.count()).longValue()

  private[graft] def resetRowCountMemo(): Unit = rowCountMemo.clear()

  /** Dense-operator entries (shingle/gram explodes, sim/minhash, winnow
    * postings, IVF/LSH scoring, media codecs). Slice sizes target ~1-2 s of
    * derived work per task at dim-64 / ~500-char rows. */
  def documentsDense(s: SparkSession, d: String): DataFrame =
    spread(documents(s, d), 16384L, s"$d/documents.parquet")
  def embeddingsDense(s: SparkSession, d: String): DataFrame =
    spread(embeddings(s, d), 4096L, s"$d/embeddings.parquet")
}
