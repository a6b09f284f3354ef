package graft.cawd

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset

/** Byte identity through the reconstruction sink: restore `chunks` into a
  * fresh directory with [[CawdEngine.reconstructTo]] and compare every
  * restored file with its source.
  */
object RestoreCheck {

  /** One row per file: (source, source bytes, restored bytes, identical). */
  def apply(chunks: Dataset[FileChunk]): Seq[(String, Long, Long, Boolean)] = {
    val dest = Files.createTempDirectory("restore-check").toString
    CawdEngine.reconstructTo(chunks, dest).collect().toSeq.map { r =>
      def bytes(p: String) = Files.readAllBytes(Paths.get(p.stripPrefix("file:")))
      val orig = bytes(r.getString(0))
      (r.getString(0), orig.length.toLong, r.getLong(2),
        java.util.Arrays.equals(orig, bytes(r.getString(1))))
    }
  }
}
