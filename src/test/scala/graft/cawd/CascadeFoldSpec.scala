package graft.cawd

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Per-chunk status across file versions against a sequential model: a
  * single-threaded fold over the chunks in (fileRank, seq) order that keeps
  * the receiver's stores as hash sets and applies the engine's documented
  * rules one chunk at a time — the client/server loop the relational plan
  * replaces. The cascade ([[Dedup.hierarchicalStatus]]) folds over three
  * stores (stripe, column, footer); each flat variant ([[Dedup.flatStatus]])
  * over one.
  */
class CascadeFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.get("cascade-fold-spec")
  private var orcDir: String = _
  private var pqDir: String = _

  /** Version `v` of the fixture table: v0 the base, v2 with ~2 % of one
    * column's rows changed (one contiguous run, so most stripes stay
    * byte-identical), v3 a single-column file. v1 and v4 are exact
    * resends of v0 and v2.
    */
  private def version(v: Int): DataFrame = {
    val base = spark.range(0, 20000).select(
      col("id"),
      (col("id") % 13).cast("double").as("d"),
      concat(lit("text-"), col("id") % 97).as("s"))
    v match {
      case 2 => base.withColumn("d",
        when(col("id").between(9000, 9399), lit(-1.0)).otherwise(col("d")))
      case 3 => base.select(col("id"))
      case _ => base
    }
  }

  override def beforeAll(): Unit = {
    orcDir = Files.createTempDirectory("fold-orc").toString
    pqDir = Files.createTempDirectory("fold-pq").toString
    val work = Files.createTempDirectory("fold-src").toString
    def single(out: String, ext: String, dest: String): Unit = {
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(ext)).get
      Files.copy(part.toPath, Paths.get(dest))
    }
    for (v <- Seq(0, 2, 3)) {
      val df = version(v).orderBy("id").coalesce(1)
      df.write.option("compression", "zlib").option("orc.stripe.size", "65536")
        .orc(s"$work/orc$v")
      single(s"$work/orc$v", ".orc", s"$orcDir/v$v.orc")
      df.write.parquet(s"$work/pq$v")
      single(s"$work/pq$v", ".parquet", s"$pqDir/v$v.parquet")
    }
    for ((copy, of) <- Seq(1 -> 0, 4 -> 2); (dir, ext) <- Seq(orcDir -> "orc", pqDir -> "parquet"))
      Files.copy(Paths.get(s"$dir/v$of.$ext"), Paths.get(s"$dir/v$copy.$ext"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private type Status = (String, Int, String) // (file, seq, status)

  private def hex(sig: Array[Byte]): String = sig.map("%02x".format(_)).mkString

  /** Data chunks of `variant` over every fixture file with its suffix. */
  private def chunksOf(variant: Variant): Seq[FileChunk] = {
    val dir = if (variant.suffix == ".parquet") pqDir else orcDir
    variant.chunk(spark, CawdEngine.listFiles(dir, variant.suffix)).collect().toSeq
      .filter(_.parentSeq != -2)
  }

  /** The engine's statuses, asserting one row per chunk. */
  private def engine(status: DataFrame): Set[Status] = {
    import spark.implicits._
    val rows = status.select("file", "seq", "status").as[Status].collect().toSeq
    assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size, "one status per chunk")
    rows.toSet
  }

  /** The cascade as a sequential fold: probe a stripe; on a miss with ≥ 2
    * columns (P4) delegate to its columns above `small` bytes — probing all
    * of them before inserting any, so ties within a stripe all miss — and
    * insert their misses into the column store; linked chunks follow their
    * stripe; file footers probe their own store.
    */
  private def cascadeFold(chunks: Seq[FileChunk], small: Long = 2L * Sha1.Size): Set[Status] = {
    val (stripes, columns, footers) =
      (mutable.Set.empty[String], mutable.Set.empty[String], mutable.Set.empty[String])
    val out = mutable.Set.empty[Status]
    def probe(store: mutable.Set[String], c: FileChunk): String =
      if (store(hex(c.signature))) "hit" else { store += hex(c.signature); "miss" }
    for ((_, file) <- chunks.groupBy(c => (c.fileRank, c.file)).toSeq.sortBy(_._1)) {
      val colsOf = file.filter(c => c.chunkType == ChunkType.Column && c.parentSeq != -1)
        .groupBy(_.parentSeq)
      val outcome = mutable.Map.empty[Int, String]
      for (c <- file.filter(_.parentSeq == -1).sortBy(_.seq)) c.chunkType match {
        case ChunkType.StripeData =>
          val cols = colsOf.getOrElse(c.seq, Nil)
          val s = probe(stripes, c) match {
            case "miss" if cols.size >= 2 => "miss_delegated"
            case s => s
          }
          outcome(c.seq) = s
          out += ((c.file, c.seq, s))
          if (s == "miss_delegated") {
            val (big, tiny) = cols.partition(_.size > small)
            val probed = big.map(k => k -> (if (columns(hex(k.signature))) "hit" else "miss"))
            probed.foreach { case (k, st) =>
              if (st == "miss") columns += hex(k.signature)
              out += ((k.file, k.seq, st))
            }
            tiny.foreach(k => out += ((k.file, k.seq, "small")))
          }
        case ChunkType.FileFooter => out += ((c.file, c.seq, probe(footers, c)))
        case ChunkType.Column => () // a column without a stripe carries no bytes
        case _ => out += ((c.file, c.seq, "raw"))
      }
      for (c <- file if c.parentSeq != -1 &&
          Set(ChunkType.StripeIndex, ChunkType.StripeFooter)(c.chunkType))
        out += ((c.file, c.seq,
          if (outcome.get(c.parentSeq).contains("hit")) "hit_linked" else "raw"))
    }
    out.toSet
  }

  /** A flat variant as a sequential fold over one store. */
  private def flatFold(chunks: Seq[FileChunk], v: Variant.Flat): Set[Status] = {
    val store = mutable.Set.empty[String]
    chunks.filter(_.parentSeq == -1).sortBy(c => (c.fileRank, c.seq)).map { c =>
      val st =
        if (!v.dedupable(c.chunkType)) "raw"
        else if (c.size <= v.threshold) "small"
        else if (store(hex(c.signature))) "hit"
        else { store += hex(c.signature); "miss" }
      (c.file, c.seq, st)
    }.toSet
  }

  test("the fixture exercises every cascade outcome") {
    val chunks = chunksOf(Variant.OrcSp)
    val kind = chunks.map(c => (c.file, c.seq) -> c.chunkType).toMap
    val fold = cascadeFold(chunks)
    val seen = fold.map(_._3)
    assert(Set("hit", "miss", "miss_delegated", "hit_linked", "raw", "small").subsetOf(seen),
      s"outcomes: $seen")
    // v2's edited stripes delegate, and their untouched columns hit the
    // column store v0 filled
    val v2 = fold.filter(_._1.endsWith("v2.orc"))
    assert(v2.exists(_._3 == "miss_delegated"))
    assert(v2.exists(r => r._3 == "hit" && kind((r._1, r._2)) == ChunkType.Column))
    // the exact resend hits every stripe and footer
    assert(fold.filter(_._1.endsWith("v1.orc")).forall(r =>
      Set("hit", "hit_linked", "raw")(r._3)))
  }

  test("hierarchicalStatus equals the sequential three-store fold, chunk by chunk") {
    import spark.implicits._
    val chunks = chunksOf(Variant.OrcSp)
    val got = engine(Dedup.hierarchicalStatus(spark.createDataset(chunks).toDF()))
    val want = cascadeFold(chunks)
    assert(got == want, s"differ on ${(got diff want).take(5)} vs ${(want diff got).take(5)}")
  }

  test("each flat variant's flatStatus equals the sequential one-store fold") {
    import spark.implicits._
    for (v <- Variant.all.collect { case f: Variant.Flat => f }) {
      val chunks = chunksOf(v)
      val got = engine(v.status(spark.createDataset(chunks).toDF()))
      val want = flatFold(chunks, v)
      assert(want.exists(_._3 == "hit") && want.exists(_._3 == "miss"), v.name)
      assert(got == want,
        s"${v.name} differs on ${(got diff want).take(5)} vs ${(want diff got).take(5)}")
    }
  }
}
