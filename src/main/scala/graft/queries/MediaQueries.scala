package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.Tables._
import graft.cawd.CawdExport
import graft.multimodal.Media

/** Multimodal pipeline pack: opaque-binary media columns + partition-batched
  * decode + feature/resize/rollup stages.
  *
  * Correctness model (the CawdExport pattern): every query MATERIALIZES the
  * media table (media_id, modality, content-blob) as parquet, so Spark and
  * the DuckDB oracle consume byte-identical blobs. Images are genuine PNG
  * bytes decoded with `javax.imageio` ([[Media.ImageCodec]]), audio is
  * genuine RIFF/WAVE PCM parsed with `javax.sound.sampled`
  * ([[Media.AudioCodec]]), and video is genuine ISO-BMFF/MP4 demuxed by
  * [[Media.VideoCodec]]'s box-tree walker; the oracle re-parses each PNG's
  * IHDR header (big-endian width/height at fixed offsets), each WAV's RIFF
  * header (little-endian rate/channels/data-size), and each MP4's tkhd
  * dims + stts/stsz/stco/stss sample tables straight from the blob's hex —
  * an INDEPENDENT check that the real decode read the right bytes.
  */
object MediaQueries {

  /** Version tag baked into the persistent-export content key: bump when
    * the synthetic encoders, codecs, or feature semantics change, or a
    * previous round's on-disk export would silently serve stale bytes.
    */
  private val MediaDerivationVersion = "media-v1"

  private def corpusKey(s: SparkSession, d: String): String =
    CawdExport.corpusContentKey(s, Seq(s"$d/documents.parquet"),
      MediaDerivationVersion)

  /** Documents row count straight from the parquet footers — no Spark job;
    * sizes the blob-export decision below.
    */
  /** Memoized per corpus CONTENT fingerprint — (dir, file count, total
    * bytes, max mtime) from ONE cheap listStatus — so the media family's
    * repeated [[blobsPersisted]] gates (mediaExport + each m0x derivation)
    * cost one listing each instead of re-opening every parquet footer on
    * the driver per call (round-10 advice). A rewritten corpus changes the
    * fingerprint and re-counts; the memo is tiny (one entry per distinct
    * corpus state) but cleared at 64 entries as a leak bound anyway.
    */
  private val rowCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long, Long), Long]()
  private def docRowCount(s: SparkSession, d: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$d/documents.parquet")
    val conf = graft.HadoopConf.shared
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory)
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq
    else Seq(st)
    val maxMtime = files.foldLeft(0L)((a, f) => math.max(a, f.getModificationTime))
    val key = (d, files.length, files.map(_.getLen).sum, maxMtime)
    def count(): Long = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
    }.sum
    // (count, bytes, mtime) only identifies corpus state when the files can
    // no longer change under that mtime: a corpus regenerated in place
    // within the clock's CURRENT second at equal byte size would be served
    // a stale row count, flipping the blobsPersisted export decision. Same
    // guard as CawdExport.corpusContentKey — current-second mtimes bypass
    // the memo in both directions (not consulted, not populated).
    if (maxMtime / 1000 >= System.currentTimeMillis() / 1000) count()
    else {
      if (rowCountMemo.size > 64) rowCountMemo.clear()
      rowCountMemo.computeIfAbsent(key, _ => count())
    }
  }

  /** Blobs average ~20 KB/doc (measured 9.3 GB / 500 k docs at the 100×
    * corpus), so the BLOB export crosses ~20 GB at 10⁶ docs — past that
    * materializing it is a disk-budget liability (the 1000× corpus would
    * need ~93 GB), and the blob-read path the export measures is already
    * covered at smaller decades. Above the cap the media pipeline runs
    * FUSED — encode feeding decode in one pass, features (small) still
    * persisted per corpus — and m04/m05 switch to modality-pruned /
    * metadata-only derivations. Conf override is a test seam.
    */
  private def blobsPersisted(s: SparkSession, d: String): Boolean =
    docRowCount(s, d) <= s.conf.getOption("spark.graft.media.maxExportRows")
      .map(_.toLong).getOrElse(1000000L)

  /** Media blob table, persisted ACROSS sessions keyed by the corpus
    * content hash: the table is a pure function of the documents corpus,
    * and a real pipeline materializes it once per corpus, not once per
    * JVM (at the 100× corpus the encode+write alone is minutes). Above
    * [[blobsPersisted]]'s cap the same rows stream unmaterialized.
    */
  private def mediaExport(s: SparkSession, d: String): DataFrame =
    if (blobsPersisted(s, d))
      s.read.parquet(CawdExport.write(s, d, "media", Some(corpusKey(s, d)))(
        Media.mediaTable(s, documentsDense(s, d)).write.parquet(_)))
    else Media.mediaTable(s, documentsDense(s, d)).toDF()

  /** Decoded features, persisted across sessions like the blob table:
    * m01/m02/m03 all consume this table, so the full-corpus decode (the
    * dominant media cost — PNG/WAV/MP4 parse over every blob) is paid once
    * per CORPUS instead of once per query or once per JVM. At 100 TB a
    * decode pass IS the job; re-paying it per session is the same 3× bug
    * as paying it per query. Features are a pure function of the blobs, so
    * the cache cannot change results; the content key re-derivation
    * (corpus hash + version) decides validity, not session lifetime.
    */
  private def features(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "media_features",
      Some(corpusKey(s, d))) { out =>
        import s.implicits._
        Media.extractFeatures(mediaExport(s, d).as[Media.MediaRow])
          .write.parquet(out)
      })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary ingest + per-partition decode (REAL PNG decode for images);
    // 8-dim feature flattened for stable cross-engine comparison.
    "m01_media_features" -> ((s, d) => {
      val f = features(s, d)
      val featCols = (0 until 8).map(i =>
        element_at(col("feature"), i + 1).as(s"f$i"))
      f.select(Seq(col("media_id"), col("modality"), col("n_bytes"),
        col("width"), col("height"), col("n_frames")) ++ featCols: _*)
    }),

    // Deterministic resize kernel stand-in (floor semantics, see Media.resize)
    // over the REAL decoded dims.
    "m02_media_resize" -> ((s, d) => {
      import s.implicits._
      Media.resize(features(s, d).as[Media.MediaFeatures], 128)
    }),

    // Frame sampling: every 2nd frame of each video → an image-like
    // training row (timestamp, perceptual-hash stand-in, keyframe flag).
    "m04_frame_sample" -> ((s, d) => {
      import s.implicits._
      // fused path re-encodes, so prune to the one modality the sampler
      // reads BEFORE the codec kernel; the persisted path reads all blobs
      // off disk and lets the sampler's own filter drop non-videos
      val rows =
        if (blobsPersisted(s, d)) mediaExport(s, d).as[Media.MediaRow]
        else Media.mediaTable(s, documentsDense(s, d), Some("video"))
      Media.sampleFrames(rows, stride = 2).toDF()
    }),

    // Modality rebalancing: deterministically down-sample every modality
    // to the size of the SMALLEST one (the stratified-balance step a
    // multimodal training mix ends with). Selection is by digest order, so
    // the "random" sample is reproducible in both engines. The digest is
    // METADATA-derived — md5(modality:media_id) — so the parquet scan
    // prunes the blob column entirely: a balance decision over 10⁹ media
    // rows must never read, hex, and hash the media bytes themselves
    // (the previous md5(hex(content)) key turned ~9 GB of blobs into
    // ~18 GB of hex strings at 10× scale for no sampling benefit).
    //
    // Exact-K selection WITHOUT a per-modality global sort: rows bucket by
    // the first two hex chars of the digest (a prefix, so within-bucket
    // (h, media_id) order IS global order and equal digests never straddle
    // buckets), a tiny aggregate yields each bucket's cumulative offset,
    // buckets whose offset already exceeds K are pruned before any sort,
    // and row_number runs per (modality, bucket) — 256-way parallel over
    // ~K surviving rows instead of one task sorting a whole modality.
    // samp_rank = bucket offset + within-bucket rank reproduces the global
    // rank exactly. At 10⁹ rows/modality widen the prefix to 4 hex chars.
    "m05_modality_balance" -> ((s, d) => {
      // the balance step reads NO bytes: (media_id, modality) is id-derived,
      // so the fused path derives it straight from the documents scan —
      // triggering the encode kernel for a metadata decision would be the
      // exact 10⁹-row bug the digest note below describes
      val ids =
        if (blobsPersisted(s, d))
          mediaExport(s, d).select(col("media_id"), col("modality"))
        else documents(s, d).select(col("doc_id").as("media_id"),
          Media.modalityOf(col("doc_id")).as("modality"))
      ids
        .select(col("media_id"), col("modality"),
          md5(concat(col("modality"), lit(":"),
            col("media_id").cast("string"))).as("h"))
        .createOrReplaceTempView("m05_media")
      s.sql(
        """WITH m AS (
          |  SELECT media_id, modality, h, substring(h, 1, 2) AS bk
          |  FROM m05_media),
          |cnt AS (SELECT modality, bk, count(*) AS c FROM m GROUP BY modality, bk),
          |off AS (
          |  SELECT modality, bk,
          |    coalesce(sum(c) OVER (PARTITION BY modality ORDER BY bk
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          |  FROM cnt),
          |k AS (SELECT min(n) AS k FROM
          |        (SELECT count(*) AS n FROM m GROUP BY modality) t),
          |pruned AS (
          |  SELECT m.media_id, m.modality, m.h, m.bk, o.off
          |  FROM m JOIN off o ON m.modality = o.modality AND m.bk = o.bk
          |  WHERE o.off < (SELECT k FROM k)),
          |ranked AS (
          |  SELECT media_id, modality,
          |    off + row_number() OVER (PARTITION BY modality, bk
          |                             ORDER BY h, media_id) AS samp_rank
          |  FROM pruned)
          |SELECT media_id, modality, samp_rank FROM ranked
          |WHERE samp_rank <= (SELECT k FROM k)""".stripMargin)
    }),

    // Downstream rollup: modality-level corpus statistics.
    "m03_modality_rollup" -> ((s, d) => {
      features(s, d).groupBy(col("modality")).agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("width")), 6).as("avg_width"),
        round(avg(col("height")), 6).as("avg_height"),
        sum(col("n_frames")).as("total_frames"))
    })
  )

  private def mediaGlob = CawdOracleSql.exportGlob("media")

  /** DuckDB mirror of the decode stage, derived from the EXPORTED blobs:
    * image dims parse the PNG IHDR (width/height are 4-byte big-endian at
    * byte offsets 16/20 → hex chars 33-40/41-48; dims ≤ 256 live in the low
    * two bytes), audio metadata parses the RIFF/WAVE header (little-endian
    * channels at byte offset 22, sample rate at 24, data size at 40;
    * PCM frames = data size / (2 × channels)), video metadata parses the
    * MP4's fixed layout (see [[Media.VideoCodec]]'s offset table: big-endian
    * tkhd width/height integer parts at bytes 232/236, stts sample count at
    * 515 — low halves of the 4-byte fields), and the shared digest is
    * `md5(hex(content))` (DuckDB md5 is VARCHAR-only; both engines' hex is
    * uppercase).
    */
  private def hxNib(j: String) = s"(strpos('0123456789ABCDEF', substr(hx, $j, 1)) - 1)"
  /** Big-endian 2-byte value whose first hex char sits at 1-based
    * position `start` (for the byte at 0-based offset o, start = 2o+1);
    * `start` may be any SQL expression.
    */
  private def hx16(start: Int): String = hx16e(start.toString)
  private def hx16e(start: String) = {
    def at(d: Int) = hxNib(s"($start) + $d")
    s"(4096 * ${at(0)} + 256 * ${at(1)} + 16 * ${at(2)} + ${at(3)})"
  }
  // MP4 fixed-layout fields (VideoCodec offset table), as hex positions
  private val Mp4W = hx16(2 * 232 + 1)      // tkhd width, 16.16 int part
  private val Mp4H = hx16(2 * 236 + 1)      // tkhd height
  private val Mp4N = hx16(2 * 517 + 1)      // stts sample count (low half)
  private val Mp4Delta = hx16(2 * 521 + 1)  // stts sample delta
  private val Mp4S = hx16(2 * 537 + 1)      // stsz constant sample size
  private val Mp4K = hx16(2 * 605 + 1)      // stss entry count
  private val Mp4Mts = hx16(2 * 270 + 1)    // mdhd timescale

  private val FeatureCte = {
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1)"
    // little-endian byte at 0-based blob offset `off` (hex is 1-based)
    def hxByte(off: Int) = s"(16 * ${hxNib((2 * off + 1).toString)} + ${hxNib((2 * off + 2).toString)})"
    val wavRate = s"(${hxByte(24)} + 256 * ${hxByte(25)})"
    val wavCh = hxByte(22)
    val wavData = s"(${hxByte(40)} + 256 * ${hxByte(41)} + 65536 * ${hxByte(42)})"
    val feats = (0 until 8).map(i => s"${nib(8 + i)} / 15.0 AS f$i").mkString(", ")
    s"""feat AS (
       |  SELECT media_id, modality, n_bytes,
       |    CAST(CASE modality WHEN 'image' THEN ${hx16(37)}
       |         WHEN 'audio' THEN $wavRate
       |         ELSE $Mp4W END AS INT) AS width,
       |    CAST(CASE modality WHEN 'image' THEN ${hx16(45)}
       |         WHEN 'audio' THEN $wavCh
       |         ELSE $Mp4H END AS INT) AS height,
       |    CAST(CASE modality WHEN 'video' THEN $Mp4N
       |         WHEN 'image' THEN 1
       |         ELSE $wavData // (2 * $wavCh) END AS INT) AS n_frames,
       |    $feats
       |  FROM (SELECT media_id, modality, octet_length(content) AS n_bytes,
       |          md5(hex(content)) AS h, hex(content) AS hx
       |        FROM read_parquet('$mediaGlob')) t)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "m01_media_features" ->
      s"""WITH $FeatureCte
         |SELECT media_id, modality, n_bytes, width, height, n_frames,
         |       ${(0 until 8).map(i => s"f$i").mkString(", ")}
         |FROM feat""".stripMargin,

    "m02_media_resize" ->
      s"""WITH $FeatureCte
         |SELECT media_id, modality,
         |  CAST(floor(width * least(1.0, 128.0 / greatest(width, height))) AS INT) AS width,
         |  CAST(floor(height * least(1.0, 128.0 / greatest(width, height))) AS INT) AS height
         |FROM feat""".stripMargin,

    "m03_modality_rollup" ->
      s"""WITH $FeatureCte
         |SELECT modality, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  round(avg(width), 6) AS avg_width, round(avg(height), 6) AS avg_height,
         |  CAST(sum(n_frames) AS BIGINT) AS total_frames
         |FROM feat GROUP BY modality""".stripMargin,

    "m05_modality_balance" ->
      s"""WITH media AS (
         |  SELECT media_id, modality,
         |    md5(modality || ':' || CAST(media_id AS VARCHAR)) AS h
         |  FROM read_parquet('$mediaGlob')),
         |ranked AS (
         |  SELECT media_id, modality, h,
         |    row_number() OVER (PARTITION BY modality ORDER BY h, media_id) AS samp_rank
         |  FROM media)
         |SELECT media_id, modality, samp_rank FROM ranked
         |WHERE samp_rank <=
         |  (SELECT min(n) FROM (SELECT count(*) AS n FROM media GROUP BY modality) t)""".stripMargin,

    // Independent re-demux of the MP4 sample tables from hex: frame count /
    // delta / size / keyframe list at the VideoCodec fixed-layout offsets,
    // phash = md5 over the hex of the frame's ACTUAL mdat byte range
    // (payload base 615 + 4·K, frame i at +(i-1)·S), keyframe = membership
    // in the parsed stss entry list.
    "m04_frame_sample" ->
      s"""WITH vids AS (
         |  SELECT media_id, hex(content) AS hx,
         |    $Mp4N AS n, $Mp4S AS s, $Mp4K AS k,
         |    $Mp4Delta AS delta, $Mp4Mts AS mts,
         |    list_transform(range(0, $Mp4K), j -> ${hx16e("1219 + 8*j")}) AS stss
         |  FROM read_parquet('$mediaGlob') WHERE modality = 'video'),
         |frames AS (
         |  SELECT media_id, CAST(i AS INT) AS frame_idx,
         |    CAST((i - 1) * delta * 1000 // mts AS INT) AS ts_ms,
         |    md5(substr(hx, 2 * (615 + 4*k + (i - 1) * s) + 1, 2 * s)) AS fh,
         |    list_contains(stss, i) AS is_keyframe
         |  FROM vids, UNNEST(range(1, n + 1, 2)) AS t(i))
         |SELECT media_id, frame_idx, ts_ms, substr(fh, 1, 16) AS phash,
         |  is_keyframe
         |FROM frames""".stripMargin
  )
}
