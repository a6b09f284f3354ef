package graft.cawd

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.commons.io.IOUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one way to write a table under [[Root]]: [[write]] runs the
  * caller's write body into a per-(corpus, tag) directory, under a
  * per-directory lock, and reuses the result only when its content key
  * matches — the chunk-store rule (a chunk is reused iff its key is
  * already stored) applied to whole exports. (s01's streaming sink is the
  * one other writer: it appends a partition per micro-batch.)
  *
  * Two kinds of export go through it:
  *   - engine-derived tables (the c-pack chunk tables, c06/c07) pass no
  *     key and are rewritten on every call, because their freshness is
  *     exactly what the external DuckDB oracle checks: the chunk relation
  *     is re-derived independently of this engine's Spark plans;
  *   - tables that are a pure function of corpus INPUT (fingerprints,
  *     media blobs/features, IVF index, e01, the ORC fixtures) pass a
  *     [[corpusContentKey]] and are built once per corpus, not once per
  *     JVM: a corpus regenerated in place changes the key and rebuilds,
  *     and a derivation change must bump the caller's version tag.
  */
object CawdExport {

  /** Fixed root (not `java.io.tmpdir`) because the oracle SQL strings are
    * static and must name the same absolute path the export writes to.
    */
  val Root = "/tmp/graft-cawd-export"

  def dir(sfDir: String, tag: String): String =
    s"$Root/${new Path(sfDir).getName}/$tag"

  private val MarkerName = "_GRAFT_CONTENT_KEY"

  /** The oracle chunk table's columns, defined once for every chunk export
    * (c01's table, the c-pack dedup rows', s01's per-batch partitions):
    * the file's basename, so no output depends on where the corpus lives;
    * the chunk's place and shape; its signature as lower-case hex `sig`;
    * then `extra`. Timing side-channel rows are not data and are dropped.
    */
  def chunkColumns(chunks: DataFrame, extra: Column*): DataFrame =
    chunks.filter(col("parentSeq") =!= -2)
      .select(Seq(regexp_replace(col("file"), ".*/", "").as("file"),
        col("fileRank"), col("seq"), col("chunkType"), col("start"),
        col("size"), col("colId"), col("colType"), col("parentSeq"),
        lower(hex(col("signature"))).as("sig")) ++ extra: _*)

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Build-or-reuse the export [[dir]]`(sfDir, tag)` and return that
    * directory. Callers of one directory run one after another. With
    * `key = Some(k)` the directory is reused when its marker reads `k`;
    * otherwise (and always for `key = None`) the directory is deleted,
    * `body(dir)` writes it, and the marker is written last, so it is also
    * the completion marker: a body that throws leaves no marker behind.
    */
  def write(spark: SparkSession, sfDir: String, tag: String,
            key: Option[String])(body: String => Unit): String = {
    val out = dir(sfDir, tag)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(out, MarkerName)
    // any failure reading the marker (missing, truncated, checksum-corrupt
    // sidecar) means "not valid" and forces a rebuild — a damaged marker
    // must never poison the query, only cost a recompute
    def markerReads(k: String): Boolean =
      try {
        val in = fs.open(marker)
        try new String(IOUtils.toByteArray(in), UTF_8) == k finally in.close()
      } catch { case NonFatal(_) => false }
    locks.computeIfAbsent(out, _ => new AnyRef).synchronized {
      if (!key.exists(markerReads)) {
        fs.delete(new Path(out), true)
        body(out)
        key.foreach { k =>
          val os = fs.create(marker, true)
          try os.write(k.getBytes(UTF_8)) finally os.close()
        }
      }
    }
    out
  }

  /** Content hash of the corpus files feeding a persistent export: md5 over
    * the raw bytes of each file (directories walk their files in name
    * order), memoized per (path, length, mtime) so repeated callers in one
    * session hash a multi-hundred-MB corpus once. Hashing IS the point —
    * a driver round regenerating the same path must invalidate — but at
    * ~2 s per GB it is noise next to the decode pass it guards.
    */
  def corpusContentKey(spark: SparkSession, paths: Seq[String],
                       version: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = paths.sorted.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(path).isDirectory)
          fs.listStatus(path).filter(_.isFile).map(_.getPath)
            .sortBy(_.getName).toSeq
        else Seq(path)
      files.map { f =>
        val st = fs.getFileStatus(f)
        def md5: String = {
          val md = java.security.MessageDigest.getInstance("MD5")
          val in = fs.open(f)
          try {
            val buf = new Array[Byte](1 << 20)
            var n = in.read(buf)
            while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          md.digest().map("%02x".format(_)).mkString
        }
        // (len, mtime) only identifies content when the file can no longer
        // change under that mtime: a file regenerated in place within the
        // clock's CURRENT second can reuse both length and mtime, and the
        // memo would silently serve the old corpus's hash to all four
        // near-dup pipelines (round-8 advice). Same-second mtimes bypass
        // the memo in both directions — not consulted, not populated.
        if (st.getModificationTime / 1000 >= System.currentTimeMillis() / 1000) md5
        else {
          val memoKey = s"${f.toString}:${st.getLen}:${st.getModificationTime}"
          corpusKeyMemo.computeIfAbsent(memoKey, _ => md5)
        }
      }.mkString(",")
    }
    s"$version:${parts.mkString(";")}"
  }

  private val corpusKeyMemo = new ConcurrentHashMap[String, String]()
}
