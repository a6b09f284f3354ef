package graft.cawd

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** A repeated plan reuses its generated classes. One round — every
  * variant's warm `dedupStats` plus one restore — needs more classes than
  * Spark's default generated-class cache keeps (100 entries), so under the
  * default the second round compiles again; on a [[GraftSession.get]]
  * session ([[GraftSession.CodegenCacheEntries]]) it compiles nothing.
  */
class CompileReuseSpec extends AnyFunSuite {

  test("a second identical round of the five variants and a restore compiles no class") {
    val spark = GraftSession.get("compile-reuse-spec")
    try {
      val dir = VariantFixture.write(spark, "compile-reuse")
      val dest = Files.createTempDirectory("compile-reuse-restore").toString
      def round(): Unit = {
        for (v <- Variant.all)
          CawdEngine.dedupStats(spark, v, CawdEngine.listFiles(dir, v.suffix),
            duplicate = true).collect()
        CawdEngine.reconstructTo(CawdEngine.chunkFiles(spark,
          CawdEngine.listFiles(dir, ".orc"), CawdEngine.Orc, withContent = true),
          dest).collect()
      }
      def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val c0 = compiles()
      round()
      val c1 = compiles()
      round()
      val c2 = compiles()
      info(s"compiles: round 1 ${c1 - c0}, round 2 ${c2 - c1}")
      assert(c2 - c1 == 0, s"the repeated round compiled ${c2 - c1} classes")
    } finally spark.stop()
  }
}
