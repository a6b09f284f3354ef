package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cawd._

/** Columnar-aware-dedup query pack — the reference's core capability
  * (SURVEY.md §2.1-§2.8) run end-to-end on the driver corpus's parquet
  * files and on ORC copies of its tables.
  *
  * Correctness model: the byte-level chunkers are unit/property-tested
  * (CawdSpec); everything downstream of the chunk table — first-occurrence
  * dedup, hierarchical cascade, wire/byte accounting, two-level stats
  * rollup — is pure relational algebra. Each dedup row runs the library's
  * [[graft.cawd.CawdEngine.ingest]] step, which computes status and rollup
  * in memory from the cached chunks, and in the same run writes those
  * chunks as parquet ([[graft.cawd.CawdExport.chunkColumns]]). Its DuckDB
  * `oracleSql` RE-DERIVES the dedup decision and the stats rollup from
  * that export alone, so the driver hash-compares the engine's values
  * against an independent derivation — an export that misencodes a chunk
  * fails the compare. Only c06 (byte-identity reconstruction) is
  * inherently byte-level and stays rows-only + unit-tested.
  */
object CawdQueries {

  /** Deterministic ORC fixtures: the nation/region/supplier/customer
    * tables re-written as single ORC files `<table>.orc` under the
    * [[CawdExport]] dir `orc` of the corpus. Sorted single-partition
    * writes → byte-stable files; keyed by the four source tables' content,
    * so a corpus regenerated in place rewrites them.
    */
  def ensureOrcFixtures(spark: SparkSession, sfDir: String): String = {
    val tables = Seq("nation" -> "n_nationkey", "region" -> "r_regionkey",
      "supplier" -> "s_suppkey", "customer" -> "c_custkey")
    val key = CawdExport.corpusContentKey(spark,
      tables.map { case (t, _) => s"$sfDir/$t.parquet" }, "orc-fixtures-v1")
    CawdExport.write(spark, sfDir, "orc", Some(key)) { outDir =>
      val fs = new Path(outDir).getFileSystem(graft.HadoopConf.shared)
      tables.foreach { case (t, k) =>
        val tmp = new Path(outDir, s"_tmp_$t")
        spark.read.parquet(s"$sfDir/$t.parquet")
          .orderBy(col(k)).coalesce(1)
          .write.orc(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".orc"))
          .getOrElse(sys.error(s"no orc part file written for $t"))
        fs.rename(part, new Path(outDir, s"$t.orc"))
        fs.delete(tmp, true)
      }
    }
  }

  private def base(c: org.apache.spark.sql.Column) =
    regexp_replace(c, ".*/", "")

  /** One c-pack dedup row: [[CawdEngine.ingest]] of `variant` over the
    * files of `srcDir`, each followed by a byte-identical copy with
    * `duplicate`. The sink writes the `tag` chunk table for the DuckDB
    * oracle from the cached chunks, and returns the rollup of the engine's
    * in-memory status, without timing rows.
    */
  private def dedupRow(s: SparkSession, sfDir: String, srcDir: String,
                       variant: Variant, tag: String,
                       duplicate: Boolean): DataFrame =
    CawdEngine.ingest(variant, variant.chunk(CawdEngine.ingestSession(s),
      CawdEngine.listFiles(srcDir, variant.suffix)), duplicate,
      store = None, clustered = false) { (chunks, status) =>
      CawdExport.write(s, sfDir, tag, None)(
        CawdExport.chunkColumns(chunks.toDF()).write.parquet(_))
      // basenames before the stats, as the oracle has them:
      // ExtraTransferBytes counts length(file)
      Stats.rollup(Stats.fromStatus(status.withColumn("file", base(col("file"))),
        variant.emitSizes))
        .localCheckpoint(true) // materialized before ingest releases its caches
    }.orderBy("file", "metric")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4: structural parquet chunk table over every corpus parquet file,
    // read through the `graft-chunks` DataSource V2 provider — the DSv2
    // path (partition planning, pruning, hashing reader) is what the
    // oracle verifies here. The aggregate reads the export back, so both
    // sides count the same table.
    "c01_parquet_chunk_table" -> ((s, d) => {
      val chunks = s.read.format("graft-chunks").load(d)
      s.read.parquet(CawdExport.write(s, d, "c01", None)(
        CawdExport.chunkColumns(chunks).write.parquet(_)))
        .groupBy(col("file"), col("chunkType"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("size")).as("bytes"))
        .orderBy("file", "chunkType")
    }),

    // S4+J1+A1-A4: parquet pipeline, cold store (every first-occurrence
    // chunk misses; intra-corpus duplicate pages dedup).
    "c02_parquet_dedup_cold" -> ((s, d) =>
      dedupRow(s, d, d, Variant.Parquet, "c02", duplicate = false)),

    // Warm-store parity KPI (BASELINE.md): file + byte-identical copy →
    // copies' DedupBytes ≈ dedupable section bytes.
    "c03_parquet_dedup_warm" -> ((s, d) =>
      dedupRow(s, d, d, Variant.Parquet, "c03", duplicate = true)),

    // S1+J1: naive ORC stripe dedup, warm.
    "c04_orc_naive_dedup_warm" -> ((s, d) =>
      dedupRow(s, d, ensureOrcFixtures(s, d), Variant.OrcNaive, "c04",
        duplicate = true)),

    // S2+P3: column-based ORC dedup with the reference's 50 B small-column
    // bypass, warm.
    "c08_orc_column_dedup_warm" -> ((s, d) =>
      dedupRow(s, d, ensureOrcFixtures(s, d), Variant.OrcColumn, "c08",
        duplicate = true)),

    // S3+J3-J5: hierarchical stripe→column cascade, warm.
    "c05_orc_sp_cascade_warm" -> ((s, d) =>
      dedupRow(s, d, ensureOrcFixtures(s, d), Variant.OrcSp, "c05",
        duplicate = true)),

    // S7: byte-identity reconstruction over both formats. The cover-filtered
    // chunk contents are materialized and SHA-1-digested in the same pass
    // that writes the export, and the DuckDB oracle re-verifies every
    // chunk's bytes against `read_blob` slices of the original files at the
    // cumulative offset — an independent byte-level check of the same
    // relation.
    "c06_reconstruction" -> ((s, d) => {
      def chunks(v: Variant, dir: String) =
        v.chunk(s, CawdEngine.listFiles(dir, v.suffix), withContent = true)
      val cover = chunks(Variant.OrcSp, ensureOrcFixtures(s, d))
        .unionByName(chunks(Variant.Parquet, d))
        // `start` rides along for the fused digest's byte-range partials;
        // neither export shape writes it.
        .filter(CawdEngine.isCover)
        .select(col("file"), col("seq"), col("start"), col("size"),
          col("content"))
      // The export is written UNCOMPRESSED with 16 MB row groups: its
      // content column is raw slices of ALREADY-compressed parquet/orc
      // file bytes, so codec compression gains ~nothing — and it is the
      // direct cause of the 8 GB-heap OOM the round-11 verdict flagged:
      // parquet's codec (de)compressors allocate DIRECT ByteBuffers sized
      // to the page, blob pages balloon past the writer's row-count page
      // check to tens of MB, and the pooled per-thread buffers across 32
      // concurrent scan tasks exhaust MaxDirectMemorySize (= heap size by
      // default; measured at the 1000× corpus: 31-93 MB reservations
      // failing at the 8.59 GB limit). No codec → no direct buffers; the
      // 16 MB row groups bound any remaining per-chunk buffering and give
      // the ~15 GB single-table scan honest 32 MB splits.
      val exportOpts = Map(
        "compression" -> "uncompressed",
        "parquet.block.size" -> (16L * 1024 * 1024).toString)
      // Fused shape (round 16): digest the cover content AS the export is
      // written (per-run partial digests to a sidecar, content never
      // crosses an exchange), then verify each partial against the
      // original file's byte range — CawdEngine.digestingExportWrite
      // scaladoc has the full argument. It replaced a four-pass
      // write/re-read/sort/digest shape at 4.2× (SCALE.md "Round 16: c06
      // fused"). The DuckDB oracle independently verifies the export's
      // bytes against read_blob slices of the originals.
      val out = CawdExport.write(s, d, "c06", None)(
        CawdEngine.digestingExportWrite(cover, _, exportOpts))
      CawdEngine.identityFromDigests(s, out)
        .withColumn("file", base(col("file")))
        .orderBy("file")
    }),

    // Content-defined chunking baseline (gear/FastCDC, [[CdcChunker]]):
    // the dedup literature's alternative to structural chunking, on the
    // same corpus + byte-identical copies. Compare its DedupBytes with
    // c03's to see what format awareness buys (the reference's thesis).
    "c09_cdc_dedup_warm" -> ((s, d) =>
      dedupRow(s, d, d, Variant.Cdc, "c09", duplicate = true)),

    // S6: plain no-dedup baseline — REAL fixed-4096 B framing of the byte
    // stream (`net/SpeedupStreamer.java:50-134`): Spark aggregates the
    // actual frame table, while the oracle re-derives the same numbers
    // from the materialized (file, bytes) listing via ceil math — they
    // agree iff the framing is correct.
    "c07_plain_baseline" -> ((s, d) => {
      import s.implicits._
      val files = CawdEngine.listFiles(d, ".parquet")
      val sizes = files.map { case (f, _) =>
        val p = new Path(f)
        val fs = p.getFileSystem(graft.HadoopConf.shared)
        (p.getName, fs.getFileStatus(p).getLen)
      }
      CawdExport.write(s, d, "c07", None)(
        s.createDataset(sizes).toDF("file", "bytes").write.parquet(_))
      CawdEngine.plainFrames(s, files).toDF()
        .groupBy(base(col("file")).as("file"))
        .agg(sum(col("size")).as("transfer_bytes"), count(lit(1)).as("frames"))
        .withColumn("extra_bytes", (length(col("file")) + 12).cast("long"))
        .orderBy("file")
    })
  )

  import CawdOracleSql._

  val oracle: Map[String, String] = Map(
    "c01_parquet_chunk_table" ->
      s"""SELECT file, chunkType, count(*) AS n_chunks,
         |  CAST(sum(size) AS BIGINT) AS bytes
         |FROM read_parquet('${exportGlob("c01")}')
         |GROUP BY file, chunkType""".stripMargin,
    "c02_parquet_dedup_cold" -> flatSql("c02", Variant.Parquet),
    "c03_parquet_dedup_warm" -> flatSql("c03", Variant.Parquet),
    "c04_orc_naive_dedup_warm" -> flatSql("c04", Variant.OrcNaive),
    "c08_orc_column_dedup_warm" -> flatSql("c08", Variant.OrcColumn),
    "c05_orc_sp_cascade_warm" -> hierarchicalSql("c05"),
    "c09_cdc_dedup_warm" -> flatSql("c09", Variant.Cdc),
    "c07_plain_baseline" ->
      s"""SELECT file, bytes AS transfer_bytes,
         |  CAST(ceil(bytes / 4096.0) AS BIGINT) AS frames,
         |  CAST(length(file) + 12 AS BIGINT) AS extra_bytes
         |FROM read_parquet('${exportGlob("c07")}')""".stripMargin,

    // Byte-identity reconstruction, re-verified from outside the engine:
    // every exported chunk's bytes must equal the original file's bytes at
    // that chunk's cumulative offset (hex-compare — DuckDB 1.0 can slice
    // VARCHAR but not BLOB), and the chunk sizes must sum to the file size.
    // Equivalent to the Spark side's streaming-SHA1(concat) == SHA1(file).
    "c06_reconstruction" ->
      s"""WITH c AS (
         |  SELECT regexp_replace(file, '^file:', '') AS path, seq, size, content
         |  FROM read_parquet('${exportGlob("c06")}')),
         |off AS (
         |  SELECT path, size, content,
         |    sum(size) OVER (PARTITION BY path ORDER BY seq
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - size AS cumoff
         |  FROM c),
         |orig AS (
         |  SELECT filename, hex(content) AS h, size AS fsize
         |  FROM read_blob(['/root/testdata/sf0.01/*.parquet',
         |                  '${CawdExport.dir("sf0.01", "orc")}/*.orc'])),
         |chk AS (
         |  SELECT o.path, g.fsize, o.size,
         |    substring(g.h, CAST(o.cumoff * 2 + 1 AS BIGINT),
         |              CAST(o.size * 2 AS BIGINT)) = hex(o.content) AS ok
         |  FROM off o JOIN orig g ON o.path = g.filename)
         |SELECT regexp_replace(path, '.*/', '') AS file,
         |  CAST(max(fsize) AS BIGINT) AS file_bytes,
         |  CAST(sum(size) AS BIGINT) AS recon_bytes,
         |  (bool_and(ok) AND CAST(max(fsize) AS BIGINT) = CAST(sum(size) AS BIGINT))
         |    AS identical
         |FROM chk GROUP BY 1""".stripMargin
  )
}

/** DuckDB SQL that re-derives the dedup decision + stats rollup from the
  * chunk tables materialized by [[graft.cawd.CawdExport]]. Correctness
  * always runs at sf0.01 (driver contract), so export paths are pinned to
  * that scale factor. Shared with [[StreamingQueries]] (s01's cross-batch
  * variant).
  */
private[queries] object CawdOracleSql {

  def exportGlob(tag: String): String =
    s"${CawdExport.Root}/sf0.01/$tag/*.parquet"

  /** Shared tail: status(file, chunkType, size, parentSeq, status) →
    * per-file byte metrics + probe counters → two-level rollup, mirroring
    * [[graft.cawd.Stats]] exactly (SigProbe = 4+20 = 24 B; Column overlay
    * rows excluded from FileBytes; `general` = all-files level).
    */
  def statsRollupSql(withSizes: Boolean = false): String = {
    val totalBytesRow = if (withSizes)
      "\n      |  UNION ALL SELECT file, 'TotalBytes', 'Bytes', CAST(filebytes AS DOUBLE) FROM perfile"
    else ""
    val sizeRows = if (withSizes)
      """
        |  UNION ALL
        |  SELECT file, 'StripeSize' AS metric, 'Bytes' AS unit, CAST(sum(size) AS DOUBLE) AS value
        |  FROM (SELECT file, CASE WHEN chunkType = 'StripeData' THEN seq ELSE parentSeq END AS skey, size
        |        FROM top WHERE chunkType IN ('StripeData','StripeIndex','StripeFooter')
        |          AND (chunkType = 'StripeData' OR parentSeq <> -1)) sz
        |  GROUP BY file, skey
        |  UNION ALL
        |  SELECT file, 'FooterSize', 'Bytes', CAST(size AS DOUBLE)
        |  FROM top WHERE chunkType = 'FileFooter'"""
    else ""
    s"""perfile AS (
      |  SELECT file,
      |    sum(CASE WHEN status IN ('raw','small','miss') THEN size ELSE 0 END) AS transfer,
      |    sum(CASE WHEN status IN ('hit','hit_linked') THEN size ELSE 0 END) AS dedup,
      |    24 * sum(CASE WHEN status IN ('hit','miss','miss_delegated') THEN 1 ELSE 0 END) AS probe,
      |    max(length(file) + 12) AS header,
      |    sum(CASE WHEN NOT (chunkType = 'Column' AND parentSeq <> -1) THEN size ELSE 0 END) AS filebytes
      |  FROM status GROUP BY file),
      |bytes AS (
      |  SELECT file, 'FileBytes' AS metric, 'Bytes' AS unit, CAST(filebytes AS DOUBLE) AS value FROM perfile
      |  UNION ALL SELECT file, 'TransferBytes', 'Bytes', CAST(transfer AS DOUBLE) FROM perfile
      |  UNION ALL SELECT file, 'DedupBytes', 'Bytes', CAST(dedup AS DOUBLE) FROM perfile
      |  UNION ALL SELECT file, 'ExtraTransferBytes', 'Bytes', CAST(probe + header AS DOUBLE) FROM perfile$totalBytesRow),
      |cnt AS (
      |  SELECT file,
      |    CASE WHEN status = 'small' AND chunkType = 'Column' THEN 'SmallColumn'
      |    ELSE concat(
      |      CASE WHEN chunkType = 'StripeData' THEN 'Stripe'
      |           WHEN chunkType = 'Column' THEN 'Column'
      |           WHEN chunkType = 'FileFooter' THEN 'Footer' ELSE 'Chunk' END,
      |      CASE WHEN status = 'hit' THEN 'Hit'
      |           WHEN status = 'small' THEN 'Small' ELSE 'Miss' END) END AS metric,
      |    'Count' AS unit, CAST(count(*) AS DOUBLE) AS value
      |  FROM status
      |  WHERE status IN ('hit','miss','miss_delegated','small')
      |  GROUP BY 1, 2),
      |typed AS (
      |  SELECT file, 'StringColumnMiss' AS metric, 'Count' AS unit, CAST(count(*) AS DOUBLE) AS value
      |  FROM status WHERE chunkType = 'Column' AND status = 'miss' AND colType = 'string' GROUP BY file
      |  UNION ALL
      |  SELECT file, 'StringColumnMissBytes', 'Bytes', CAST(sum(size) AS DOUBLE)
      |  FROM status WHERE chunkType = 'Column' AND status = 'miss' AND colType = 'string' GROUP BY file),
      |allstats AS (SELECT * FROM bytes UNION ALL SELECT * FROM cnt UNION ALL SELECT * FROM typed$sizeRows)
      |SELECT file, metric, min(unit) AS unit, sum(value) AS value,
      |  count(*) AS ocurrences, min(value) AS min_v,
      |  round(quantile_cont(value, 0.25), 6) AS p25,
      |  round(quantile_cont(value, 0.50), 6) AS p50,
      |  round(quantile_cont(value, 0.75), 6) AS p75,
      |  max(value) AS max_v
      |FROM allstats GROUP BY file, metric
      |UNION ALL
      |SELECT 'general', metric, min(unit), sum(value), count(*), min(value),
      |  round(quantile_cont(value, 0.25), 6), round(quantile_cont(value, 0.50), 6),
      |  round(quantile_cont(value, 0.75), 6), max(value)
      |FROM allstats GROUP BY metric""".stripMargin
  }

  /** Flat first-occurrence dedup in SQL: miss = chunk whose arrival key
    * is the minimum for its signature among dedup-eligible chunks. The
    * default key is fileRank·2^32 + seq (seq < 2^32); s01 prepends the
    * micro-batch id so cross-batch store growth is captured.
    */
  def flatSql(tag: String, variant: Variant.Flat,
              keyExpr: String = "fileRank * 4294967296 + seq",
              glob: Option[String] = None): String = {
    val d = variant.dedupable.toSeq.sorted.map(t => s"'$t'").mkString(", ")
    val threshold = variant.threshold
    s"""WITH c AS (SELECT * FROM read_parquet('${glob.getOrElse(exportGlob(tag))}')),
       |top AS (SELECT * FROM c WHERE parentSeq = -1),
       |special AS (SELECT * FROM top WHERE chunkType IN ($d) AND size > $threshold),
       |firsts AS (SELECT sig, min($keyExpr) AS fk FROM special GROUP BY sig),
       |probed AS (
       |  SELECT file, chunkType, size, parentSeq, colType,
       |    CASE WHEN $keyExpr = f.fk THEN 'miss' ELSE 'hit' END AS status
       |  FROM special JOIN firsts f USING (sig)),
       |plain AS (
       |  SELECT file, chunkType, size, parentSeq, colType,
       |    CASE WHEN chunkType IN ($d) THEN 'small' ELSE 'raw' END AS status
       |  FROM top WHERE NOT (chunkType IN ($d) AND size > $threshold)),
       |status AS (SELECT * FROM probed UNION ALL SELECT * FROM plain),
       |${statsRollupSql()}""".stripMargin
  }

  /** Hierarchical s+p cascade in SQL, mirroring [[graft.cawd.Dedup.hierarchicalStatus]]:
    * stripe probe (delegating to columns when the stripe has parsed ones),
    * linked index/footer chunks following their stripe, the column cascade
    * over delegated stripes (≤40 B bypass; ties within a stripe all first),
    * file-footer store, and raw leftovers.
    */
  def hierarchicalSql(tag: String): String =
    s"""WITH c AS (SELECT * FROM read_parquet('${exportGlob(tag)}')),
       |top AS (SELECT * FROM c),
       |stripes AS (SELECT * FROM top WHERE chunkType = 'StripeData'),
       |haskids AS (SELECT file AS c_file, parentSeq AS c_parent
       |            FROM top WHERE chunkType = 'Column'
       |            GROUP BY 1, 2 HAVING count(*) >= 2),
       |sfirst AS (SELECT sig, min(fileRank * 4294967296 + seq) AS fk FROM stripes GROUP BY sig),
       |sstat AS (
       |  SELECT s.*, CASE
       |    WHEN s.fileRank * 4294967296 + s.seq <> f.fk THEN 'hit'
       |    WHEN h.c_file IS NOT NULL THEN 'miss_delegated'
       |    ELSE 'miss' END AS status
       |  FROM stripes s JOIN sfirst f USING (sig)
       |  LEFT JOIN haskids h ON s.file = h.c_file AND s.seq = h.c_parent),
       |linked AS (
       |  SELECT t.file, t.chunkType, t.size, t.parentSeq, t.colType,
       |    CASE WHEN ss.status = 'hit' THEN 'hit_linked' ELSE 'raw' END AS status
       |  FROM top t LEFT JOIN sstat ss ON t.file = ss.file AND t.parentSeq = ss.seq
       |  WHERE t.chunkType IN ('StripeIndex','StripeFooter') AND t.parentSeq <> -1),
       |colsof AS (
       |  SELECT t.* FROM top t JOIN sstat ss ON t.file = ss.file AND t.parentSeq = ss.seq
       |  WHERE t.chunkType = 'Column' AND ss.status = 'miss_delegated'),
       |cfirst AS (SELECT sig, min(fileRank * 4294967296 + parentSeq) AS fk
       |           FROM colsof WHERE size > 40 GROUP BY sig),
       |cstat AS (
       |  SELECT b.file, b.chunkType, b.size, b.parentSeq, b.colType,
       |    CASE WHEN b.fileRank * 4294967296 + b.parentSeq = f.fk THEN 'miss' ELSE 'hit' END AS status
       |  FROM colsof b JOIN cfirst f USING (sig) WHERE b.size > 40),
       |csmall AS (SELECT file, chunkType, size, parentSeq, colType, 'small' AS status
       |           FROM colsof WHERE size <= 40),
       |foot AS (SELECT * FROM top WHERE chunkType = 'FileFooter'),
       |ffirst AS (SELECT sig, min(fileRank * 4294967296 + seq) AS fk FROM foot GROUP BY sig),
       |fstat AS (
       |  SELECT t.file, t.chunkType, t.size, t.parentSeq, t.colType,
       |    CASE WHEN t.fileRank * 4294967296 + t.seq = f.fk THEN 'miss' ELSE 'hit' END AS status
       |  FROM foot t JOIN ffirst f USING (sig)),
       |rawc AS (
       |  SELECT file, chunkType, size, parentSeq, colType, 'raw' AS status FROM top
       |  WHERE chunkType NOT IN ('StripeData','Column','FileFooter')
       |    AND NOT (chunkType IN ('StripeIndex','StripeFooter') AND parentSeq <> -1)),
       |status AS (
       |  SELECT file, chunkType, size, parentSeq, colType, status FROM sstat
       |  UNION ALL SELECT * FROM linked
       |  UNION ALL SELECT * FROM cstat
       |  UNION ALL SELECT * FROM csmall
       |  UNION ALL SELECT * FROM fstat
       |  UNION ALL SELECT * FROM rawc),
       |${statsRollupSql(withSizes = true)}""".stripMargin
}
