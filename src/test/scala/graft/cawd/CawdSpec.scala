package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Correctness suite the reference never had (SURVEY.md §5): chunk-table
  * invariants, byte-identity reconstruction, first-occurrence dedup
  * semantics, warm-store parity KPI, stats semantics with the reference's
  * percentile bug fixed.
  */
class CawdSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.get("cawd-spec")
  private var dir: String = _
  private var orcPath: String = _
  private var pqPath: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("cawd-spec").toString
    val df = spark.range(0, 5000).select(
      col("id"),
      (col("id") % 7).cast("double").as("d"),
      concat(lit("row-"), col("id")).as("s"))
    df.orderBy("id").coalesce(1).write.mode("overwrite").orc(s"$dir/orc")
    df.orderBy("id").coalesce(1).write.mode("overwrite").parquet(s"$dir/pq")
    orcPath = firstPart(s"$dir/orc", ".orc")
    pqPath = firstPart(s"$dir/pq", ".parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def firstPart(d: String, suffix: String): String =
    new java.io.File(d).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix))
      .get.getAbsolutePath

  private def fileLen(p: String): Long = new java.io.File(p).length()

  /** Top-level cover: in StripeColumn mode Column subchunks OVERLAY the
    * stripe-data chunk (parentSeq links them) and are excluded; in
    * ColumnBased mode Column chunks REPLACE the data chunk and are part of
    * the cover.
    */
  private def assertContiguous(chunks: Seq[FileChunk], len: Long): Unit = {
    val top = chunks
      .filterNot(c => c.chunkType == ChunkType.Column && c.parentSeq != -1)
      .sortBy(_.start)
    assert(top.head.start == 0, "first chunk starts at byte 0")
    top.sliding(2).foreach {
      case Seq(a, b) => assert(a.start + a.size == b.start,
        s"gap/overlap between ${a.chunkType}@${a.start}+${a.size} and ${b.chunkType}@${b.start}")
      case _ =>
    }
    assert(top.map(_.size).sum == len, "chunk sizes sum to file length")
  }

  test("ORC chunking (all modes): contiguous cover of [0, fileLen)") {
    for (mode <- Seq(OrcChunker.Naive, OrcChunker.ColumnBased, OrcChunker.StripeColumn)) {
      val chunks = OrcChunker.chunk(orcPath, 0, mode)
      assertContiguous(chunks, fileLen(orcPath))
      assert(chunks.exists(_.chunkType == ChunkType.FileFooter))
    }
  }

  test("ORC stripe+column: column subchunks exactly tile each stripe's data region") {
    val chunks = OrcChunker.chunk(orcPath, 0, OrcChunker.StripeColumn)
    val byParent = chunks.filter(_.chunkType == ChunkType.Column).groupBy(_.parentSeq)
    assert(byParent.nonEmpty, "expected column subchunks")
    byParent.foreach { case (parentSeq, cols) =>
      val stripe = chunks.find(_.seq == parentSeq).get
      assert(stripe.chunkType == ChunkType.StripeData)
      val sorted = cols.sortBy(_.start)
      assert(sorted.head.start == stripe.start)
      assert(sorted.map(_.size).sum == stripe.size, "columns tile the stripe data")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a.start + a.size == b.start)
        case _ =>
      }
      assert(cols.forall(_.colType.nonEmpty), "columns carry a logical type")
    }
  }

  test("Parquet chunking: contiguous cover, typed pages, footer slices verbatim") {
    val chunks = ParquetChunker.chunk(pqPath, 0)
    assertContiguous(chunks, fileLen(pqPath))
    assert(chunks.exists(c => ChunkType.parquetDedupable(c.chunkType)))
    assert(chunks.exists(_.chunkType == ChunkType.PageHeader))
    val after = chunks.filter(_.chunkType == ChunkType.AfterFooter)
    assert(after.size == 1 && after.head.size == 8)
    // trailing magic is PAR1
    assert(new String(after.head.content.takeRight(4), "ASCII") == "PAR1")
  }

  test("reconstruction is byte-identical for ORC and parquet") {
    import spark.implicits._
    val ds = spark.createDataset(
      OrcChunker.chunk(orcPath, 0, OrcChunker.StripeColumn) ++
      ParquetChunker.chunk(pqPath, 1))
    val rows = RestoreCheck(ds)
    assert(rows.length == 2)
    rows.foreach { case (file, fileBytes, reconBytes, identical) =>
      assert(identical, s"$file not byte-identical")
      assert(fileBytes == reconBytes)
    }
  }

  test("format matrix: cover + byte-identical reconstruction across codecs, stripe sizes, blooms") {
    import spark.implicits._
    val df = spark.range(0, 20000).select(
      col("id"),
      (col("id") % 13).cast("double").as("d"),
      concat(lit("text-"), col("id") % 97).as("s"),
      (col("id") % 5 === 0).as("b"))

    val orcVariants = Seq(
      ("zlib-small-stripes", Map("compression" -> "zlib", "orc.stripe.size" -> "65536")),
      ("snappy-bloom", Map("compression" -> "snappy", "orc.bloom.filter.columns" -> "s")),
      ("none", Map("compression" -> "none")))
    for ((name, opts) <- orcVariants) {
      val out = s"$dir/orc-$name"
      df.orderBy("id").coalesce(1).write.mode("overwrite").options(opts).orc(out)
      val p = firstPart(out, ".orc")
      for (mode <- Seq(OrcChunker.Naive, OrcChunker.ColumnBased, OrcChunker.StripeColumn)) {
        val chunks = OrcChunker.chunk(p, 0, mode)
        assertContiguous(chunks, fileLen(p))
        val check = RestoreCheck(spark.createDataset(chunks))
        assert(check.head._4, s"orc $name/$mode not byte-identical")
        // the small-stripe variant must actually exercise MULTI-STRIPE
        // layout (a silently-ignored writer option would collapse this
        // case back to the single-stripe shape every other test covers)
        if (name == "zlib-small-stripes" && mode == OrcChunker.Naive)
          assert(chunks.count(_.chunkType == ChunkType.StripeData) > 1,
            "expected multiple stripes from orc.stripe.size=65536")
      }
    }

    val pqVariants = Seq(
      ("gzip-small-pages", Map("compression" -> "gzip",
        "parquet.page.size" -> "4096", "parquet.block.size" -> "131072")),
      ("snappy-nodict", Map("compression" -> "snappy",
        "parquet.enable.dictionary" -> "false")),
      ("uncompressed", Map("compression" -> "uncompressed")))
    for ((name, opts) <- pqVariants) {
      val out = s"$dir/pq-$name"
      df.orderBy("id").coalesce(1).write.mode("overwrite").options(opts).parquet(out)
      val p = firstPart(out, ".parquet")
      val chunks = ParquetChunker.chunk(p, 0)
      assertContiguous(chunks, fileLen(p))
      val check = RestoreCheck(spark.createDataset(chunks))
      assert(check.head._4, s"parquet $name not byte-identical")
      // the small-block variant must actually produce multiple row groups
      // (4 columns => >4 data-page runs only when block.size bites)
      if (name == "gzip-small-pages")
        assert(chunks.count(_.chunkType == ChunkType.PageHeader) > 8,
          "expected multiple row groups / pages from parquet.block.size=131072")
    }
  }

  test("reference sample fixtures: cover + byte-identical reconstruction (all ORC modes)") {
    // the reference repo's own test files (res/sample-1.orc, res/sample-2.orc)
    import spark.implicits._
    val samples = Seq("/root/reference/res/sample-1.orc",
      "/root/reference/res/sample-2.orc").filter(new java.io.File(_).exists())
    assume(samples.nonEmpty, "reference fixtures not present")
    for (p <- samples; mode <- Seq(OrcChunker.Naive, OrcChunker.ColumnBased,
        OrcChunker.StripeColumn)) {
      val chunks = OrcChunker.chunk(p, 0, mode)
      assertContiguous(chunks, fileLen(p))
      val check = RestoreCheck(spark.createDataset(chunks))
      assert(check.head._4, s"$p/$mode not byte-identical")
    }
  }

  test("listFiles ranks in UTF-8 byte order, the order Spark sorts paths in") {
    import spark.implicits._
    val work = Files.createTempDirectory("cawd-order").toString
    // U+FFFD sorts before U+1F600 in UTF-8 but after it in UTF-16
    val names = Seq("\uFFFD.bin", "\uD83D\uDE00.bin")
    names.foreach(n => Files.write(java.nio.file.Paths.get(work, n), Array[Byte](1)))
    val listed = CawdEngine.listFiles(work, ".bin")
      .map { case (p, _) => new org.apache.hadoop.fs.Path(p).getName }
    assert(listed == spark.createDataset(names).orderBy("value").as[String].collect().toSeq)
  }

  test("zero-byte file terminates: one empty ERROR chunk with sha1 of zero bytes") {
    import spark.implicits._
    val empty = new java.io.File(dir, "empty.parquet")
    empty.createNewFile()
    val chunks = CawdEngine.chunkFiles(spark,
      Seq((empty.getAbsolutePath, 0)), CawdEngine.Parquet)
      .collect().filter(_.parentSeq != -2)
    assert(chunks.length == 1 && chunks.head.chunkType == ChunkType.Error)
    assert(chunks.head.size == 0)
    assert(java.util.Arrays.equals(chunks.head.signature, Sha1.of(Array.emptyByteArray)))
  }

  test("corrupt file degrades to one ERROR chunk, still reconstructs byte-identically") {
    import spark.implicits._
    val bad = new java.io.File(dir, "corrupt.orc")
    java.nio.file.Files.write(bad.toPath,
      Array.fill[Byte](4096)(0x42)) // not ORC: no magic, no footer
    val chunks = CawdEngine.chunkFiles(spark,
      Seq((bad.getAbsolutePath, 0)), CawdEngine.Orc, withContent = true)
      .collect().filter(_.parentSeq != -2)
    assert(chunks.length == 1 && chunks.head.chunkType == ChunkType.Error)
    assert(chunks.head.size == 4096)
    val check = RestoreCheck(spark.createDataset(chunks.toSeq))
    assert(check.head._4, "ERROR chunk must reconstruct the raw file")
  }

  test("fused digest-through-write: identity over the real cover, corruption and truncation detected") {
    val work = Files.createTempDirectory("cawd-fused").toString
    val f1 = s"$work/a.orc"
    val f2 = s"$work/b.parquet"
    Files.copy(java.nio.file.Paths.get(orcPath), java.nio.file.Paths.get(f1))
    Files.copy(java.nio.file.Paths.get(pqPath), java.nio.file.Paths.get(f2))
    val cover = CawdEngine.chunkFiles(spark, Seq((f1, 0)), CawdEngine.Orc,
        OrcChunker.StripeColumn, withContent = true)
      .unionByName(CawdEngine.chunkFiles(spark, Seq((f2, 1)),
        CawdEngine.Parquet, withContent = true))
      .filter(CawdEngine.isCover)
      .select(col("file"), col("seq"), col("start"), col("size"),
        col("content"))
    val out = s"$work/export"
    CawdEngine.digestingExportWrite(cover, out, Map.empty)
    // the export dir stays a plain parquet dir; partials land in the sibling
    assert(new java.io.File(out).listFiles().forall(f =>
      f.getName.endsWith(".parquet") || f.getName.startsWith("_") ||
        f.getName.startsWith(".")))
    assert(new java.io.File(CawdEngine.digestSidecarDir(out)).listFiles()
      .exists(_.length() > 0))
    def rows() = CawdEngine.identityFromDigests(spark, out)
      .collect().map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val ok = rows()
    assert(ok.size == 2 && ok.values.forall { case (fb, rb, id) => id && fb == rb })
    // flip one byte mid-file: that file alone must report non-identical
    val raf = new java.io.RandomAccessFile(f1, "rw")
    try {
      raf.seek(raf.length() / 2)
      val b = raf.read(); raf.seek(raf.length() / 2); raf.write(b ^ 0x01)
    } finally raf.close()
    val afterFlip = rows()
    assert(!afterFlip("a.orc")._3 && afterFlip("b.parquet")._3)
    // truncate the other: recon_bytes != file_bytes must fail it too
    new java.io.RandomAccessFile(f2, "rw") { setLength(fileLen(f2) - 10); close() }
    assert(!rows()("b.parquet")._3)
  }

  test("fused digest breaks runs at byte discontinuities within one partition") {
    // the fifth-decade probe's failure shape: one partition holds
    // NON-adjacent byte ranges of the same file (non-consecutive buckets
    // hash together) — a seq-keyed merge would digest across the gap
    import spark.implicits._
    val work = Files.createTempDirectory("cawd-runs").toString
    val data = Array.tabulate[Byte](300)(i => (i * 7 % 256).toByte)
    val fp = s"$work/f.bin"
    Files.write(java.nio.file.Paths.get(fp), data)
    val rows = Seq(
      (fp, 0, 0L, 100L, data.slice(0, 100)),
      (fp, 5, 200L, 100L, data.slice(200, 300)), // gap: [100,200) comes later
      (fp, 9, 100L, 100L, data.slice(100, 200)))
    val cover = spark.createDataset(rows).coalesce(1)
      .toDF("file", "seq", "start", "size", "content")
    val out = s"$work/export"
    CawdEngine.digestingExportWrite(cover, out, Map.empty)
    val partials = new java.io.File(CawdEngine.digestSidecarDir(out))
      .listFiles().filter(_.getName.endsWith(".tsv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(partials.size == 3, s"expected 3 runs, got: $partials")
    val r = CawdEngine.identityFromDigests(spark, out).collect().head
    assert(r.getLong(1) == 300 && r.getLong(2) == 300 && r.getBoolean(3))
  }

  test("identityFromDigests reassembles out-of-order partials and rejects overlap") {
    val work = Files.createTempDirectory("cawd-partials").toString
    val data = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    Files.write(java.nio.file.Paths.get(s"$work/f.bin"), data)
    def sha(lo: Int, hi: Int): String = java.security.MessageDigest
      .getInstance("SHA-1").digest(data.slice(lo, hi))
      .map("%02x".format(_)).mkString
    val out = s"$work/export"
    val sc = new java.io.File(CawdEngine.digestSidecarDir(out))
    sc.mkdirs()
    // two byte-range partials, listed out of order to pin the sort
    Files.write(new java.io.File(sc, "part-0.tsv").toPath,
      (s"400\t600\t${sha(400, 1000)}\t$work/f.bin\n" +
        s"0\t400\t${sha(0, 400)}\t$work/f.bin\n").getBytes("UTF-8"))
    val r = CawdEngine.identityFromDigests(spark, out).collect().head
    assert(r.getLong(1) == 1000 && r.getLong(2) == 1000 && r.getBoolean(3))
    // a coverage GAP (bytes [400,500) never digested): non-identical
    Files.write(new java.io.File(sc, "part-0.tsv").toPath,
      (s"0\t400\t${sha(0, 400)}\t$work/f.bin\n" +
        s"500\t500\t${sha(500, 1000)}\t$work/f.bin\n").getBytes("UTF-8"))
    assert(!CawdEngine.identityFromDigests(spark, out).collect().head.getBoolean(3))
    // overlapping ranges could double-count bytes and mask a gap: loud failure
    Files.write(new java.io.File(sc, "part-0.tsv").toPath,
      (s"0\t400\t${sha(0, 400)}\t$work/f.bin\n" +
        s"300\t700\t${sha(300, 1000)}\t$work/f.bin\n").getBytes("UTF-8"))
    val e = intercept[Exception] {
      CawdEngine.identityFromDigests(spark, out).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overlapping digest runs")))
  }

  test("reconstruction sink materializes byte-identical files") {
    import spark.implicits._
    val dest = s"$dir/recon"
    val ds = spark.createDataset(
      OrcChunker.chunk(orcPath, 0, OrcChunker.StripeColumn) ++
      ParquetChunker.chunk(pqPath, 1))
    val rows = CawdEngine.reconstructTo(ds, dest).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(r.getString(0)))
      val recon = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(r.getString(1)))
      assert(java.util.Arrays.equals(orig, recon), s"${r.getString(0)} not byte-identical")
      assert(r.getLong(2) == orig.length)
    }
  }

  test("plain baseline: real 4096 B frames pass bytes through end to end") {
    import spark.implicits._
    val frames = CawdEngine.plainFrames(spark, Seq((pqPath, 0)), withContent = true)
    val out = CawdEngine.reconstructTo(frames, s"$dir/recon-plain").collect().head
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pqPath))
    val recon = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out.getString(1)))
    assert(java.util.Arrays.equals(orig, recon), "frame passthrough not byte-identical")
    assert(frames.count() == (orig.length + 4095) / 4096, "frame count matches ceil math")
  }

  test("flat dedup: first occurrence misses, repeats hit, in arrival order") {
    val chunks = Seq(
      // file A: two distinct data chunks + one repeat of the first
      FileChunk("a", 0, 0, ChunkType.StripeData, 0, 100, -1, "", -1, Sha1.of(Array(1)), Array()),
      FileChunk("a", 0, 1, ChunkType.StripeData, 100, 100, -1, "", -1, Sha1.of(Array(2)), Array()),
      FileChunk("a", 0, 2, ChunkType.StripeData, 200, 100, -1, "", -1, Sha1.of(Array(1)), Array()),
      FileChunk("a", 0, 3, ChunkType.StripeFooter, 300, 10, -1, "", -1, Sha1.of(Array(3)), Array()),
      // file B (later rank): all duplicates of file A
      FileChunk("b", 1, 0, ChunkType.StripeData, 0, 100, -1, "", -1, Sha1.of(Array(1)), Array()),
      FileChunk("b", 1, 1, ChunkType.StripeData, 100, 100, -1, "", -1, Sha1.of(Array(2)), Array()))
    import spark.implicits._
    val status = Dedup.flatStatus(spark.createDataset(chunks).toDF(),
      ChunkType.naiveOrcDedupable)
      .select("file", "seq", "status").as[(String, Int, String)].collect().toSet
    assert(status == Set(
      ("a", 0, "miss"), ("a", 1, "miss"), ("a", 2, "hit"), ("a", 3, "raw"),
      ("b", 0, "hit"), ("b", 1, "hit")))
  }

  test("warm duplicate transfer: copy's DedupBytes covers all dedupable bytes (parity KPI)") {
    import spark.implicits._
    val base = spark.createDataset(OrcChunker.chunk(orcPath, 0, OrcChunker.Naive))
    val both = CawdEngine.withDuplicates(base)
    val status = Dedup.flatStatus(both.toDF(), ChunkType.naiveOrcDedupable)
    val copy = status.filter(col("file").endsWith("+copy"))
    val hitBytes = copy.filter(col("status") === "hit")
      .agg(sum("size")).as[Long].head()
    val dedupableBytes = copy
      .filter(col("chunkType").isInCollection(ChunkType.naiveOrcDedupable))
      .agg(sum("size")).as[Long].head()
    assert(hitBytes == dedupableBytes, "every dedupable chunk of the copy hits")
    assert(hitBytes > 0)
  }

  test("hierarchical cascade: copy stripes all hit; cold columns probe only for missed stripes") {
    import spark.implicits._
    val base = spark.createDataset(OrcChunker.chunk(orcPath, 0, OrcChunker.StripeColumn))
    val both = CawdEngine.withDuplicates(base)
    val status = Dedup.hierarchicalStatus(both.toDF())
    val byFileStatus = status.groupBy("file", "status").count().collect()
      .map(r => (r.getString(0).endsWith("+copy"), r.getString(1)) -> r.getLong(2))
      .groupMapReduce(_._1._1)(r => Map(r._1._2 -> r._2))(_ ++ _)
    val orig = byFileStatus(false); val copy = byFileStatus(true)
    // original: stripes miss and delegate to columns (or plain miss)
    assert(orig.getOrElse("hit", 0L) == 0L)
    assert(orig.contains("miss_delegated") || orig.contains("miss"))
    // copy: every stripe + footer hits; no column probes remain
    assert(!copy.contains("miss") && !copy.contains("miss_delegated"))
    assert(copy.getOrElse("hit", 0L) > 0L)
  }

  test("cutBuckets: splits by bytes and tasks at stripe boundaries; " +
    "overlays and linked chunks stay with their stripe") {
    def mk(seq: Int, t: String, start: Long, size: Long, parent: Int) =
      FileChunk("f", 0, seq, t, start, size, -1, "", parent,
        Array.emptyByteArray, Array.emptyByteArray)
    // 6 stripes of 10 MB as StripeColumn lays them out: the stripe index
    // linked BEFORE its data, 2 column overlays and a linked footer after
    var seq = -1
    val metas = (0 until 6).flatMap { s =>
      val base = s * 10L * (1 << 20)
      val indexSeq = { seq += 1; seq }
      val stripeSeq = { seq += 1; seq }
      Seq(mk(indexSeq, ChunkType.StripeIndex, base, 100, stripeSeq),
        mk(stripeSeq, ChunkType.StripeData, base + 100, (10L << 20) - 200, -1),
        mk({ seq += 1; seq }, ChunkType.Column, base + 100, 5L << 20, stripeSeq),
        mk({ seq += 1; seq }, ChunkType.Column, base + 100 + (5L << 20),
          (5L << 20) - 200, stripeSeq),
        mk({ seq += 1; seq }, ChunkType.StripeFooter, base + (10L << 20) - 100, 100,
          stripeSeq))
    }
    // alone on one task, 60 MB of stripes split at the 16 MB target; in a
    // run that puts this file at 7 MB and gives each of 5 tasks 14 MB,
    // every task boundary cuts a bucket too
    for ((offset, taskBytes, tasks) <- Seq((0L, Long.MaxValue, 1), (7L << 20, 14L << 20, 5))) {
      val placed = CawdEngine.cutBuckets(metas, offset, taskBytes, tasks, target = 16L << 20)
      val byBucket = placed.groupMap(_._3)(_._1)
      assert(byBucket.size > 1, "60 MB of top-level bytes must split at 16 MB target")
      // every overlay/linked chunk shares its stripe's bucket
      val stripeBucket = placed.collect {
        case (m, _, b) if m.chunkType == ChunkType.StripeData => m.seq -> b
      }.toMap
      placed.foreach { case (m, _, b) =>
        if (m.parentSeq >= 0)
          assert(b == stripeBucket(m.parentSeq), s"chunk ${m.seq} split from its stripe")
      }
      // buckets cover disjoint, contiguous byte ranges in order
      val ranges = byBucket.toSeq.sortBy(_._1).map { case (_, ms) =>
        (ms.map(_.start).min, ms.map(m => m.start + m.size).max)
      }
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 <= b._1, s"bucket ranges overlap: $a $b")
        case _ =>
      }
      // no bucket straddles a task boundary, and each stripe sits on the
      // task its start falls in
      placed.groupMap(_._3)(_._2).foreach { case (b, ts) =>
        assert(ts.distinct.size == 1, s"bucket $b spans tasks ${ts.distinct}")
      }
      placed.foreach { case (m, t, _) =>
        if (m.parentSeq == -1)
          assert(t == math.min(tasks - 1L, (offset + m.start - 100) / taskBytes),
            s"stripe ${m.seq} on task $t")
      }
      if (tasks > 1) assert(placed.map(_._2).distinct.size == tasks)
    }
  }

  test("RegionHash streams >2 GiB files with Long offsets (no Int truncation)") {
    // sparse file: only the probed regions have real bytes; holes read as
    // zeros without occupying disk
    val f = new java.io.File(dir, "huge.bin")
    val raf = new java.io.RandomAccessFile(f, "rw")
    val twoGiB = 1L << 31
    val fileLen = twoGiB + (64L << 20)
    val pattern = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    try {
      raf.setLength(fileLen)
      raf.seek(twoGiB - 1000); raf.write(pattern) // straddles the 2^31 boundary
      raf.seek(fileLen - 4096); raf.write(pattern)
    } finally raf.close()
    try {
      def mk(seq: Int, start: Long, size: Long) =
        FileChunk(f.getAbsolutePath, 0, seq, ChunkType.StripeData, start, size,
          -1, "", -1, Array.emptyByteArray, Array.emptyByteArray)
      val metas = Seq(
        mk(0, twoGiB - 1000, 4096),        // crosses the Int boundary
        mk(1, fileLen - 4096, 4096))       // starts past 2 GiB
      val hashed = RegionHash.hashChunks(f.getAbsolutePath, metas, withContent = false)
      val expected = Sha1.of(pattern)
      hashed.foreach { c =>
        assert(java.util.Arrays.equals(c.signature, expected),
          s"chunk at ${c.start} hashed wrong bytes")
      }
    } finally f.delete()
  }

  test("cascade accounting: columns of delegated stripes probe and tile their bytes") {
    import spark.implicits._
    val base = spark.createDataset(OrcChunker.chunk(orcPath, 0, OrcChunker.StripeColumn))
    val status = Dedup.hierarchicalStatus(base.toDF())
    val delegated = status.filter(col("status") === "miss_delegated")
      .select("seq", "size").as[(Int, Long)].collect().toMap
    assert(delegated.nonEmpty, "cold stripes with parsed columns must delegate")
    val colRows = status.filter(col("chunkType") === ChunkType.Column)
      .select("parentSeq", "size", "status").as[(Int, Long, String)].collect()
    assert(colRows.nonEmpty, "delegated stripes must produce column probe rows")
    assert(colRows.forall(r => Set("hit", "miss", "small").contains(r._3)),
      "column outcomes are hit/miss/small")
    // the column rows of each delegated stripe account for ALL its data bytes,
    // so Stats.fromStatus (which ignores miss_delegated stripes when summing
    // sent bytes) never drops delegated stripe-data bytes
    val colBytes = colRows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(colBytes == delegated, "column rows tile every delegated stripe's bytes")
  }

  test("P4 single-column shortcut: stripes with <=1 parsed column never delegate") {
    import spark.implicits._
    val oneColDir = s"$dir/orc1col"
    spark.range(0, 5000).select(col("id"))
      .orderBy("id").coalesce(1).write.mode("overwrite").orc(oneColDir)
    val p = firstPart(oneColDir, ".orc")
    val chunks = OrcChunker.chunk(p, 0, OrcChunker.StripeColumn)
    val status = Dedup.hierarchicalStatus(spark.createDataset(chunks).toDF())
    val byStatus = status.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(!byStatus.contains("miss_delegated"),
      "single-column stripes must skip the column cascade")
    assert(byStatus.getOrElse("miss", 0L) > 0, "stripes are sent whole on miss")
    assert(status.filter(col("chunkType") === ChunkType.Column).count() == 0,
      "no column probe rows for single-column stripes")
  }

  test("metric vocabulary matches the reference enum; s+p emits sizes, timings, typed misses") {
    // TransferStats.java:86-108 minus the declared-but-never-emitted
    // Double* types (only the String typed-miss pair is emitted there,
    // StripePlusColumnORCStreamer.java:180-184)
    val referenceEnum = Set(
      "FileBytes", "TransferBytes", "TotalBytes", "TransferTime",
      "ExtraTransferBytes", "DedupBytes", "ParsingOverhead",
      "StripeHit", "StripeMiss", "ColumnHit", "DoubleColumnHit",
      "DoubleColumnMiss", "DoubleColumnMissBytes", "StringColumnMiss",
      "StringColumnMissBytes", "ColumnMiss", "FooterHit", "FooterMiss",
      "SmallColumn", "StripeSize", "FooterSize")
    import spark.implicits._
    val out = CawdEngine.hierarchicalDedupStats(spark, s"$dir/orc", duplicate = true)
    val metrics = out.select("metric").distinct().as[String].collect().toSet
    assert(metrics.subsetOf(referenceEnum),
      s"unknown metrics emitted: ${metrics.diff(referenceEnum)}")
    val required = Set(Metric.StripeSize, Metric.FooterSize, Metric.TotalBytes,
      Metric.ParsingOverhead, Metric.TransferTime, Metric.StripeHit,
      Metric.FooterHit, Metric.DedupBytes, Metric.StringColumnMiss,
      Metric.StringColumnMissBytes)
    assert(required.subsetOf(metrics),
      s"missing required metrics: ${required.diff(metrics)}")
  }

  test("stats rollup: two levels, exact distinct percentiles (reference p50/p75 bug fixed)") {
    import spark.implicits._
    val stats = Seq(
      StatValue("f1", "TransferBytes", 10.0, "Bytes"),
      StatValue("f1", "TransferBytes", 20.0, "Bytes"),
      StatValue("f2", "TransferBytes", 30.0, "Bytes"),
      StatValue("f2", "TransferBytes", 40.0, "Bytes")).toDS().toDF()
    val out = Stats.rollup(stats).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("f1", "f2", "general"))
    val g = out("general")
    assert(g.getAs[Double]("value") == 100.0)
    assert(g.getAs[Long]("ocurrences") == 4)
    assert(g.getAs[Double]("p25") != g.getAs[Double]("p75"),
      "p75 must not replicate the reference's copy-paste of p25")
    assert(g.getAs[Double]("p50") == 25.0)
  }
}
