package graft.cawd

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry}

/** Pins the c06 content export's on-disk contract: UNCOMPRESSED column
  * chunks. The export's `content` column holds raw slices of
  * already-compressed parquet/orc bytes, and a compression codec on it is
  * not just useless — parquet codecs allocate pooled DIRECT ByteBuffers
  * sized to the page, blob pages balloon to 31–93 MB, and 32 concurrent
  * scan tasks exhaust MaxDirectMemorySize (= heap size): the load-dependent
  * OOM that killed c06 at the 1000× corpus in round 11. The fix is the
  * `compression=uncompressed` writeOption in CawdQueries' c06; nothing
  * else pins it, and a future edit reverting to the session default codec
  * would reintroduce the OOM visible only at the fifth decade. This spec
  * runs the REAL c06 query path (so it guards the shipped writeOptions,
  * not a copy) and asserts every column chunk footer in the export reports
  * UNCOMPRESSED. The same run's result rows are checked too: one row per
  * source file, each byte-identical.
  */
class CawdExportCodecSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("c06-codec-spec")
  private val sfDir = "/root/testdata/sf0.001"

  // runs the shipped query once; both tests below read this run's export
  private lazy val c06Rows =
    SparkEntry.queries("c06_reconstruction")(spark, sfDir).collect()

  test("c06 content export is written with UNCOMPRESSED column chunks") {
    assert(c06Rows.nonEmpty)
    val out = new Path(CawdExport.dir(sfDir, "c06"))
    val conf = new Configuration()
    val fs = out.getFileSystem(conf)
    val parts = fs.listStatus(out).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
    assert(parts.nonEmpty, s"no parquet parts under $out")

    val offending = parts.flatMap { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getCodec != CompressionCodecName.UNCOMPRESSED)
        .map(c => s"${p.getName}:${c.getPath}:${c.getCodec}").toList
      finally r.close()
    }
    assert(offending.isEmpty,
      "c06 export has compressed column chunks (direct-ByteBuffer OOM " +
        s"regression at the 1000x corpus): ${offending.take(5).mkString(", ")}")
  }

  test("c06 returns one byte-identical row per source file") {
    val orcDir = graft.queries.CawdQueries.ensureOrcFixtures(spark, sfDir)
    val sources = (CawdEngine.listFiles(orcDir, ".orc") ++
      CawdEngine.listFiles(sfDir, ".parquet"))
      .map { case (f, _) => new Path(f).getName }.sorted
    assert(sources.nonEmpty, s"no source files under $sfDir")
    val files = c06Rows.map(_.getAs[String]("file")).toSeq.sorted
    assert(files == sources)
    val broken = c06Rows.filterNot(_.getAs[Boolean]("identical"))
    assert(broken.isEmpty, s"c06 reports non-identical files: ${broken.mkString(", ")}")
  }

  /** Two corpora with one basename share the c06 export directory; each
    * run must still report exactly its own corpus's files.
    */
  test("c06 over two corpora of one basename reports each corpus's own files") {
    val fs = new Path(sfDir).getFileSystem(new Configuration())
    def copyCorpus(skip: Set[String]): String = {
      val dst = new Path(
        java.nio.file.Files.createTempDirectory("c06-basename").toString, "sf0.001")
      fs.mkdirs(dst)
      fs.listStatus(new Path(sfDir)).map(_.getPath)
        .filterNot(p => skip(p.getName))
        .foreach(p => org.apache.hadoop.fs.FileUtil.copy(
          fs, p, fs, new Path(dst, p.getName), false, new Configuration()))
      dst.toString
    }
    val a = copyCorpus(Set.empty)
    val b = copyCorpus(Set("lineitem.parquet"))
    for (corpus <- Seq(a, b)) {
      val rows = SparkEntry.queries("c06_reconstruction")(spark, corpus).collect()
      val orcDir = graft.queries.CawdQueries.ensureOrcFixtures(spark, corpus)
      val sources = (CawdEngine.listFiles(orcDir, ".orc") ++
        CawdEngine.listFiles(corpus, ".parquet"))
        .map { case (f, _) => new Path(f).getName }.sorted
      assert(rows.map(_.getAs[String]("file")).toSeq.sorted == sources,
        s"c06 over $corpus")
      assert(rows.forall(_.getAs[Boolean]("identical")))
    }
  }
}
