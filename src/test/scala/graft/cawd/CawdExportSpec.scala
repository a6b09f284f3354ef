package graft.cawd

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The [[CawdExport.write]] contract: one writer per export directory at a
  * time, reuse only on a matching content-key marker, the marker written
  * last (so a failed body leaves none), and `key = None` always rebuilding.
  */
class CawdExportSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("export-spec")
  private lazy val sfDir = Files.createTempDirectory("export-spec").toString

  private def ids(n: Int): DataFrame = spark.range(n).toDF("id")

  private def readIds(out: String): Seq[Long] =
    spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted

  private def marker(tag: String) =
    Paths.get(CawdExport.dir(sfDir, tag), "_GRAFT_CONTENT_KEY")

  test("concurrent callers of one keyed export: the body runs once, both read every row") {
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          readIds(CawdExport.write(spark, sfDir, "shared", Some("k1")) { out =>
            runs.incrementAndGet()
            ids(100).write.parquet(out)
          })
        })
      }
      start.countDown()
      results.foreach(r => assert(r.get(120, TimeUnit.SECONDS) == (0L until 100L)))
      assert(runs.get == 1)
    } finally pool.shutdownNow()
  }

  test("a body that throws leaves no marker, and the next call rebuilds") {
    intercept[IllegalStateException] {
      CawdExport.write(spark, sfDir, "fails", Some("k1")) { out =>
        ids(10).write.parquet(out)
        throw new IllegalStateException("body failed after writing")
      }
    }
    assert(!Files.exists(marker("fails")))
    var runs = 0
    val out = CawdExport.write(spark, sfDir, "fails", Some("k1")) { out =>
      runs += 1
      ids(20).write.parquet(out)
    }
    assert(runs == 1)
    assert(readIds(out) == (0L until 20L))
  }

  test("a truncated marker forces a rebuild") {
    var runs = 0
    def build(): String = CawdExport.write(spark, sfDir, "truncated", Some("key-v1")) { out =>
      runs += 1
      ids(30).write.parquet(out)
    }
    build()
    build()
    assert(runs == 1, "a matching marker must be reused")
    Files.write(marker("truncated"), "key".getBytes("UTF-8"))
    val out = build()
    assert(runs == 2)
    assert(readIds(out) == (0L until 30L))
  }

  test("a None-keyed export runs its body on every call") {
    var runs = 0
    def build(n: Int): String = CawdExport.write(spark, sfDir, "unkeyed", None) { out =>
      runs += 1
      ids(n).write.parquet(out)
    }
    build(5)
    val out = build(7)
    assert(runs == 2)
    assert(readIds(out) == (0L until 7L))
  }
}
