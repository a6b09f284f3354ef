package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cawd._

/** Outcome of one output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Result of one timed operation: bytes handed to the engine, named timing
  * parts, and the checks on its output. */
final case class OpResult(bytes: Long, parts: Map[String, Double], checks: Seq[Check])

/** A closed-loop workload: one client, the next operation starts only after
  * the previous one returned. */
trait Workload {
  /** The warm-up operation that ends set-up. It is also the reference pass:
    * it keeps the output every timed operation is compared with. */
  def warmup(spark: SparkSession, tr: Tracer): Unit
  /** Checks on the inputs and the warm-up's output, after set-up's clock
    * stopped. */
  def prepare(spark: SparkSession): Seq[Check]
  def op(spark: SparkSession, k: Int, tr: Tracer): OpResult
  /** No more inputs for operation `k`. */
  def exhausted(k: Int): Boolean = false
  /** Operations run even when the window has closed. */
  def minOps: Int = Harness.MinOps
  /** Checks after the timed window, and the traffic share in percent. */
  def finish(spark: SparkSession, ops: Int): (Seq[Check], Double)
  /** Driver-side plan + hash of the files operation `k` handed over, as
    * their own spans outside the operation (traced runs only). */
  def planAndHash(k: Int, tr: Tracer): Unit
}

object Workload {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def fileSha1(f: File): String = {
    val md = MessageDigest.getInstance("SHA-1")
    val in = Files.newInputStream(f.toPath)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def localPath(p: String): String = p.stripPrefix("file:")

  /** Timing rows are wall-clock and differ between runs by design. */
  private val TimingMetrics = Set(Metric.ParsingOverhead, Metric.TransferTime)

  /** Order-insensitive text form of a stats rollup without its timing rows. */
  def canonical(rows: Seq[Row]): Seq[String] =
    rows.filter(r => !TimingMetrics(r.getAs[String]("metric")))
      .map(r => Seq("file", "metric", "value", "ocurrences", "min_v", "p25", "p50",
        "p75", "max_v").map(c => String.valueOf(r.getAs[Any](c))).mkString("|"))
      .sorted

  def metric(rows: Seq[Row], file: String, m: String): Double =
    rows.find(r => r.getAs[String]("file") == file && r.getAs[String]("metric") == m)
      .map(_.getAs[Double]("value")).getOrElse(0.0)

  /** (TransferBytes + ExtraTransferBytes) / FileBytes of the global row, in %. */
  def trafficPct(rows: Seq[Row]): Double =
    100.0 * (metric(rows, "general", Metric.TransferBytes) +
      metric(rows, "general", Metric.ExtraTransferBytes)) /
      metric(rows, "general", Metric.FileBytes)

  /** TransferBytes + DedupBytes = FileBytes for every file and the total,
    * and FileBytes equals the files' real lengths. */
  def byteIdentity(rows: Seq[Row], lengths: Map[String, Long]): Seq[Check] = {
    val files = rows.map(_.getAs[String]("file")).distinct
    val bad = files.filter { f =>
      metric(rows, f, Metric.TransferBytes) + metric(rows, f, Metric.DedupBytes) !=
        metric(rows, f, Metric.FileBytes)
    }
    val lenBad = lengths.filter { case (f, n) => metric(rows, f, Metric.FileBytes) != n }
    Seq(
      Check("transfer_plus_dedup_eq_file", bad.isEmpty, bad.take(3).mkString(",")),
      Check("file_bytes_eq_length", lenBad.isEmpty && metric(rows, "general",
        Metric.FileBytes) == lengths.values.sum, lenBad.keys.take(3).mkString(",")))
  }

  /** Every file's top-level chunks, in seq order, tile [0, length). */
  def tiling(chunks: Dataset[FileChunk], lengths: Map[String, Long]): Check = {
    val cover = chunks.toDF()
      .filter(col("parentSeq") =!= -2 &&
        !(col("chunkType") === ChunkType.Column && col("parentSeq") =!= -1))
      .select("file", "seq", "start", "size").collect()
      .groupBy(_.getString(0))
    val bad = lengths.keys.filter { f =>
      val cs = cover.getOrElse(f, Array.empty[Row]).sortBy(_.getInt(1))
      val contiguous = cs.foldLeft(Option(0L)) { (end, r) =>
        end.filter(_ == r.getLong(2)).map(_ + r.getLong(3))
      }
      contiguous != Some(lengths(f))
    }
    Check("chunks_tile_files", bad.isEmpty, bad.take(3).mkString(","))
  }

  /** Per probe kind, misses equal the distinct signatures probed: the store
    * learns each signature exactly once. */
  def missesAreDistinct(status: DataFrame): Check = {
    val kind = when(col("chunkType") === ChunkType.StripeData, "stripe")
      .when(col("chunkType") === ChunkType.Column, "column")
      .when(col("chunkType") === ChunkType.FileFooter, "footer")
      .otherwise("other")
    val rows = status.filter(col("status").isin("hit", "miss", "miss_delegated"))
      .groupBy(kind.as("kind"))
      .agg(sum(when(col("status") =!= "hit", 1).otherwise(0)).as("misses"),
        countDistinct(col("signature")).as("distinct"))
      .collect()
    val bad = rows.filter(r => r.getLong(1) != r.getLong(2))
      .map(r => s"${r.getString(0)}:${r.getLong(1)}!=${r.getLong(2)}")
    Check("misses_eq_distinct_signatures", bad.isEmpty && rows.nonEmpty, bad.mkString(","))
  }

  private val ProbeKinds = Seq("Stripe", "Column", "Footer")

  /** (probes, hits) from the rollup's global hit/miss counters. */
  def probesHits(rows: Seq[Row]): (Double, Double) = {
    val hits = ProbeKinds.map(k => metric(rows, "general", k + "Hit")).sum
    (hits + ProbeKinds.map(k => metric(rows, "general", k + "Miss")).sum, hits)
  }

  /** Plan and hash `files` on the driver under "plan" and "hash" spans. */
  def planAndHashFiles(files: Seq[(String, Int)], fmt: CawdEngine.Format,
                       tr: Tracer): Unit = {
    val metas = tr.span("plan") {
      val m = files.map { case (p, rank) => fmt match {
        case CawdEngine.Orc => OrcChunker.plan(p, rank, OrcChunker.StripeColumn)
        case CawdEngine.Parquet => ParquetChunker.plan(p, rank)
      } }
      tr.attr("plan", "files", files.size)
      tr.attr("plan", "chunks", m.map(_.size).sum)
      m
    }
    val bytes = files.map { case (p, _) => new File(localPath(p)).length() }.sum
    tr.attr("plan", "bytes", bytes)
    tr.span("hash") {
      files.zip(metas).foreach { case ((p, _), m) =>
        RegionHash.hashChunks(p, m.sortBy(_.seq), withContent = false)
      }
      tr.attr("hash", "bytes", bytes)
    }
  }
}

import Workload._

/** Hierarchical s+p dedup over successive ORC versions of lineitem/orders,
  * then reconstruction of the same files from their chunks. */
final class OrcVersions(inputs: String, work: String) extends Workload {
  private val files = CawdEngine.listFiles(inputs, ".orc")
  private val lengths = files.map { case (p, _) => p -> new File(localPath(p)).length() }.toMap
  private val inputBytes = lengths.values.sum
  private lazy val sourceSha = lengths.keys.map(p =>
    new File(localPath(p)).getName -> fileSha1(new File(localPath(p)))).toMap
  private var reference: Seq[String] = Nil
  private var traffic = Double.NaN
  private var warm: (Seq[Row], Dataset[FileChunk], DataFrame) = _
  private val warmDest = s"$work/warmup"

  /** The steps `hierarchicalDedupStats` runs, each materialized in its own
    * span: "chunk", "dedup" (the status table) and "stats" (the rollup). */
  private def traced(spark: SparkSession, tr: Tracer)
      : (Seq[Row], Dataset[FileChunk], DataFrame) = {
    val chunks = tr.span("chunk") {
      val c = CawdEngine.chunkFiles(spark, files, CawdEngine.Orc, OrcChunker.StripeColumn)
        .cache()
      c.count()
      c
    }
    val status = tr.span("dedup") {
      val st = Dedup.hierarchicalStatus(chunks.toDF()).cache()
      st.count()
      st
    }
    val rows = tr.span("stats") {
      val r = Stats.rollup(Stats.fromStatus(status, emitSizes = true)
        .unionByName(CawdEngine.timingStats(chunks))).collect().toSeq
      tr.attr("stats", "rows", r.size)
      r
    }
    (rows, chunks, status)
  }

  private def restore(spark: SparkSession, dest: String): Seq[Row] =
    CawdEngine.reconstructTo(CawdEngine.chunkFiles(spark, files, CawdEngine.Orc,
      OrcChunker.StripeColumn, withContent = true), dest).collect().toSeq

  /** One full ingest, step by step with each step cached, and a restore. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    warm = traced(spark, tr)
    restore(spark, warmDest)
  }

  def prepare(spark: SparkSession): Seq[Check] = {
    val (rows, chunks, status) = warm
    reference = canonical(rows)
    traffic = trafficPct(rows)
    val checks = Seq(tiling(chunks, lengths), missesAreDistinct(status),
      restoredIdentical(warmDest, "warmup_restore_sha1_identical")) ++
      byteIdentity(rows, lengths)
    warm = null
    spark.catalog.clearCache()
    deleteTree(new File(warmDest))
    checks
  }

  /** Every restored ORC file under `dest` is SHA-1 identical to its source. */
  private def restoredIdentical(dest: String, name: String): Check = {
    val restored = new File(dest).listFiles().filter(_.getName.endsWith(".orc"))
    Check(name, restored.length == sourceSha.size &&
      restored.forall(f => sourceSha.get(f.getName).contains(fileSha1(f))),
      s"${restored.length} files")
  }

  def op(spark: SparkSession, k: Int, tr: Tracer): OpResult = {
    val dest = s"$work/restore-$k"
    val (rows, ingestS, written, restoreS) = tr.span("op") {
      val (r, ingestS) = seconds {
        if (!tr.active) CawdEngine.hierarchicalDedupStats(spark, inputs).collect().toSeq
        else traced(spark, tr)._1
      }
      spark.catalog.clearCache()
      val (w, restoreS) = seconds(tr.span("restore")(restore(spark, dest)))
      (r, ingestS, w, restoreS)
    }
    val (probes, hits) = probesHits(rows)
    tr.attr("dedup", "probes", probes)
    tr.attr("dedup", "hits", hits)
    val writtenBytes = written.map(_.getAs[Long]("bytes")).sum
    tr.attr("restore", "bytes", writtenBytes)
    spark.catalog.clearCache()
    // byte identity is checked outside both timed parts
    val identical = restoredIdentical(dest, "restore_sha1_identical")
    deleteTree(new File(dest))
    OpResult(inputBytes, Map("ingest_s" -> ingestS, "restore_s" -> restoreS),
      Seq(Check("rollup_eq_reference", canonical(rows) == reference, ""),
        Check("restore_bytes", writtenBytes == inputBytes, s"$writtenBytes"),
        identical))
  }

  def finish(spark: SparkSession, ops: Int): (Seq[Check], Double) = (Nil, traffic)

  def planAndHash(k: Int, tr: Tracer): Unit = planAndHashFiles(files, CawdEngine.Orc, tr)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Streaming ingest: one `StreamingEngine` trigger per wave against one
  * growing signature store. Each wave stages a new slice, an exact resend
  * and a modified resend of earlier slices. */
final class StreamWaves(inputs: String, work: String, waves: Int) extends Workload {
  private def waveDir(k: Int) = new File(inputs, f"w$k%03d")
  private def waveFiles(k: Int) = waveDir(k).listFiles().filter(_.getName.endsWith(".parquet"))
    .sortBy(_.getName).toSeq
  private val in = s"$work/in"
  private val store = s"$work/store"
  private val stats = s"$work/stats"
  private val ckpt = s"$work/ckpt"

  // Wave 0 fills the empty store during set-up; operation k runs
  // wave k + 1, so every timed wave probes a store that already holds data.
  private def waveOf(k: Int) = k + 1

  override def exhausted(k: Int): Boolean = waveOf(k) >= waves
  override def minOps: Int = math.max(Harness.MinOps, StreamWaves.TrafficWaves)

  /** Stage wave `k`'s files into `inDir` and run one trigger to completion. */
  private def wave(spark: SparkSession, k: Int, inDir: String, storeDir: String,
                   statsDir: String, ckptDir: String, tr: Tracer): Long = {
    new File(inDir).mkdirs()
    val staged = waveFiles(k).map { f =>
      Files.copy(f.toPath, new File(inDir, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      f.length()
    }
    val q = StreamingEngine.start(spark, inDir, storeDir, statsDir, ".parquet",
      CawdEngine.Parquet, ckptDir)
    tr.alias(q.runId.toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    staged.sum
  }

  def warmup(spark: SparkSession, tr: Tracer): Unit =
    wave(spark, 0, in, store, stats, ckpt, tr)

  def prepare(spark: SparkSession): Seq[Check] = Nil

  def op(spark: SparkSession, k: Int, tr: Tracer): OpResult = {
    val (bytes, s) =
      seconds(tr.span("wave")(wave(spark, waveOf(k), in, store, stats, ckpt, tr)))
    if (tr.active) {
      tr.span("store_scan") {
        val rows = StreamingEngine.readStore(spark, store).map(_.count()).getOrElse(0L)
        tr.attr("store_scan", "rows", rows)
      }
      val files = listTree(new File(store)).filter(_.getName.endsWith(".parquet"))
      tr.attr("store_scan", "files", files.size)
      tr.attr("store_scan", "bytes", files.map(_.length()).sum)
      val wave = waveStats(spark).filter(col("wave") === waveOf(k)).collect()
      wave.headOption.foreach { r =>
        tr.attr("wave", "probes", r.getAs[Double]("probes"))
        tr.attr("wave", "hits", r.getAs[Double]("hits"))
      }
    }
    OpResult(bytes, Map("ingest_s" -> s), Nil)
  }

  /** Per-wave sums of the per-file stats rows, keyed by the wave number in
    * the staged file names. */
  private def waveStats(spark: SparkSession): DataFrame = {
    def m(name: String) = sum(when(col("metric") === name, col("value")).otherwise(0.0))
    spark.read.option("basePath", stats).parquet(stats)
      .withColumn("wave", regexp_extract(col("file"), "^w(\\d+)_", 1).cast("int"))
      .groupBy("wave")
      .agg(m(Metric.FileBytes).as("file_bytes"), m(Metric.TransferBytes).as("transfer"),
        m(Metric.DedupBytes).as("dedup"), m(Metric.ExtraTransferBytes).as("extra"),
        (m("ChunkHit") + m("ChunkMiss")).as("probes"), m("ChunkHit").as("hits"))
  }

  def finish(spark: SparkSession, ops: Int): (Seq[Check], Double) = {
    val perWave = waveStats(spark).collect().map(r => r.getAs[Int]("wave") -> r).toMap
    val waveChecks = (0 to ops).map { k =>
      val staged = waveFiles(k).map(_.length()).sum.toDouble
      val ok = perWave.get(k).exists { r =>
        r.getAs[Double]("file_bytes") == staged &&
          r.getAs[Double]("transfer") + r.getAs[Double]("dedup") == staged
      }
      Check(s"wave_${k}_bytes", ok, "")
    }
    val storeDf = StreamingEngine.readStore(spark, store).get
    val dupSigs = storeDf.groupBy("signature").count().filter(col("count") > 1).count()
    val storeSigs = storeDf.select("signature").distinct().count()
    val staged = CawdEngine.listFiles(in, ".parquet")
    val chunks = CawdEngine.chunkFiles(spark, staged, CawdEngine.Parquet)
    val expected = chunks.toDF()
      .filter(col("parentSeq") === -1 &&
        col("chunkType").isInCollection(ChunkType.parquetDedupable) && col("size") > 0)
      .select("signature").distinct().count()
    val lengths = staged.map { case (p, _) => p -> new File(localPath(p)).length() }.toMap
    // traffic over a fixed prefix of waves so it does not depend on how many
    // waves fit in the window
    val prefix = perWave.filter(_._1 <= StreamWaves.TrafficWaves).values.toSeq
    def total(c: String) = prefix.map(_.getAs[Double](c)).sum
    val traffic = 100.0 * (total("transfer") + total("extra")) / total("file_bytes")
    (waveChecks ++ Seq(
      Check("store_signatures_unique", dupSigs == 0, s"$dupSigs duplicated"),
      Check("store_eq_distinct_signatures", storeSigs == expected, s"$storeSigs vs $expected"),
      tiling(chunks, lengths)), traffic)
  }

  def planAndHash(k: Int, tr: Tracer): Unit =
    planAndHashFiles(waveFiles(waveOf(k)).map(_.getPath).zipWithIndex, CawdEngine.Parquet, tr)

  private def listTree(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq.flatMap(c => if (c.isDirectory) listTree(c) else Seq(c)))
      .getOrElse(Nil)
}

object StreamWaves {
  /** traffic_pct covers waves 0 to this; every run completes them. */
  val TrafficWaves = 3
}

/** The query mix: one operation runs every mix query once, in an order the
  * seed permutes per operation, over one generated corpus directory. Each
  * query's result is reduced to (row count, order-insensitive fingerprint)
  * inside the timed part, so every operation's output is checked. */
final class PackMix(inputs: String, seed: Long) extends Workload {
  private val manifest = new ObjectMapper().readTree(new File(inputs, "manifest.json"))
  private val queries = manifest.get("info").get("queries").elements().asScala
    .map(_.asText).toSeq
  private val expectedRows = queries.map(q =>
    q -> manifest.get("info").get("expected_rows").get(q).asLong).toMap
  /** Corpus tables each query reads. */
  private val reads = Map(
    "d11_tfidf_terms" -> Seq("documents"),
    "m05_modality_balance" -> Seq("documents"),
    "q04_revenue_by_nation" -> Seq("lineitem", "orders", "customer", "nation"))
  private val inputBytes = queries.map(q =>
    q -> reads(q).map(t => new File(inputs, s"$t.parquet").length()).sum).toMap
  private val fingerprints = mutable.Map.empty[String, (Long, Long)]
  private val shuffle = new ShuffleBytes
  /** Per operation: shuffle bytes written as a share of the bytes read, in %. */
  private val traffic = mutable.ArrayBuffer.empty[Double]

  /** Runs query `q`; returns (rows, sum of per-row hashes mod a prime). */
  private def run(spark: SparkSession, q: String): (Long, Long) = {
    val df = graft.SparkEntry.queries(q)(spark, inputs)
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
      lit(1000000007L)))).head()
    spark.catalog.clearCache()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    // m05 derives modalities from the documents scan instead of persisting
    // a media blob export outside the corpus directory
    spark.conf.set("spark.graft.media.maxExportRows", "0")
    spark.sparkContext.addSparkListener(shuffle)
    queries.foreach(q => fingerprints(q) = run(spark, q))
  }

  def prepare(spark: SparkSession): Seq[Check] = queries.map { q =>
    val n = fingerprints(q)._1
    Check(s"${q}_rows", n == expectedRows(q), s"$n vs ${expectedRows(q)}")
  }

  def op(spark: SparkSession, k: Int, tr: Tracer): OpResult = {
    val order = new scala.util.Random(seed * 7919L + k).shuffle(queries)
    val shuffle0 = shuffle.total(spark)
    val results = order.map { q =>
      val (r, s) = seconds(tr.span(s"query.$q")(run(spark, q)))
      (q, r, s)
    }
    val bytes = order.map(inputBytes).sum
    traffic += 100.0 * (shuffle.total(spark) - shuffle0) / bytes
    OpResult(bytes, results.map { case (q, _, s) => q -> s }.toMap, results.flatMap {
      case (q, (n, fp), _) => Seq(
        Check(s"${q}_rows", n == expectedRows(q), s"$n"),
        Check(s"${q}_fingerprint", (n, fp) == fingerprints(q), s"$fp"))
    })
  }

  def finish(spark: SparkSession, ops: Int): (Seq[Check], Double) = {
    val xs = traffic.sorted
    val n = xs.size
    (Nil, if (n == 0) Double.NaN else (xs((n - 1) / 2) + xs(n / 2)) / 2)
  }

  def planAndHash(k: Int, tr: Tracer): Unit = ()
}

/** Shuffle bytes written by every task of the application. */
final class ShuffleBytes extends SparkListener {
  private var bytes = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach(m => bytes += m.shuffleWriteMetrics.bytesWritten)
  }

  /** The total once every event so far has been delivered. */
  def total(spark: SparkSession): Long = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    synchronized(bytes)
  }
}
