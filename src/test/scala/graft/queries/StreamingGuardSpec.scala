package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The streaming drain must FAIL loudly when its file-glob source matches
  * nothing — the sf1 scale run showed s02-s05 silently "passing" on a wrong
  * data layout (an `events.parquet` DIRECTORY of part files where the glob
  * expects a single file) before the guard existed — and must not leave its
  * checkpoint behind under the shared checkpoint root.
  */
class StreamingGuardSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("streaming-guard-spec")

  test("wrong layout (events.parquet as a directory) fails, not vacuous-pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-guard").toFile
    dir.deleteOnExit()
    // the wrong-layout shape: a directory NAMED events.parquet whose part
    // files the pathGlobFilter cannot match
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(10)
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val e = intercept[IllegalStateException] {
      StreamingQueries.queries("s02_streaming_window")(spark, dir.getAbsolutePath)
    }
    assert(e.getMessage.contains("no input rows"))
  }

  test("finished drains release their checkpoints under the shared root") {
    val root = new java.io.File(s"${StreamingQueries.scratchRoot}/ckpt")
    def entries: Set[String] = Option(root.list()).map(_.toSet).getOrElse(Set.empty)
    val before = entries
    for (q <- Seq("s02_streaming_window", "s05_stream_stream_join"))
      assert(StreamingQueries.queries(q)(spark, "/root/testdata/sf0.001").count() > 0)
    val left = entries -- before
    assert(left.isEmpty, s"checkpoints left under $root: $left")
  }
}
