package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.GraftSession

/** The shared per-corpus fingerprint exports (rankedShingles /
  * minhashBandsOf) feed four near-dup pipelines; these tests pin the two
  * properties that make sharing safe:
  *   - the persisted tables equal the direct in-memory derivation
  *     (persistence must be invisible to results);
  *   - a corpus REGENERATED IN PLACE invalidates the export (content-key
  *     cold-run invalidation — a stale fingerprint table silently serving
  *     a new corpus would poison every consumer at once).
  */
class FingerprintShareSpec extends AnyFunSuite {

  private def writeCorpus(spark: org.apache.spark.sql.SparkSession,
                          dir: String, salt: String): Unit = {
    val docs = (1 to 8).map { i =>
      // near-dup pair structure: docs 1/2 share most tokens
      val base = s"alpha$salt bravo charlie delta echo foxtrot golf hotel india juliet"
      val text = if (i == 2) base + " kilo" else if (i > 2) s"doc$i $salt " + base.split(" ").drop(i % 4).mkString(" ") else base
      (i.toLong, text)
    }
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.tmp_docs")
    // one FILE per table, like the driver corpus layout
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/.tmp_docs/part-*.parquet"))(0).getPath
    val target = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    fs.delete(target, true)
    fs.rename(part, target)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.tmp_docs"), true)
  }

  test("persisted fingerprint tables equal the direct derivation") {
    val spark = GraftSession.get("fp-share-spec")
    val dir = java.nio.file.Files.createTempDirectory("fp-spec").toString
    writeCorpus(spark, dir, "s1")
    val persisted = TextQueries.minhashBandsOf(spark, dir)
      .orderBy("doc_id", "band").collect().toSeq
    val direct = TextQueries.minhashBands(
      TextQueries.docShingles(graft.Tables.documents(spark, dir)))
      .orderBy("doc_id", "band").collect().toSeq
    assert(persisted == direct,
      "persisted band table must be value-identical to the in-memory build")
    val rs = TextQueries.rankedShingles(spark, dir)
    assert(rs.columns.toSeq == Seq("doc_id", "s", "rnk", "n"))
    // per-doc rank is a permutation 1..n of that doc's distinct shingles
    val bad = rs.groupBy("doc_id")
      .agg(count(lit(1)).as("cnt"), max("rnk").as("mx"), max("n").as("nn"))
      .filter(col("cnt") =!= col("mx") || col("cnt") =!= col("nn")).count()
    assert(bad == 0L, "rnk/n must be consistent per doc")
  }

  test("in-place corpus regeneration invalidates the export (content key)") {
    val spark = GraftSession.get("fp-share-spec")
    val dir = java.nio.file.Files.createTempDirectory("fp-inval").toString
    writeCorpus(spark, dir, "v1")
    val before = TextQueries.minhashBandsOf(spark, dir)
      .orderBy("doc_id", "band").collect().toSeq
    // regenerate the corpus AT THE SAME PATH (what a driver round does)
    writeCorpus(spark, dir, "v2")
    val after = TextQueries.minhashBandsOf(spark, dir)
      .orderBy("doc_id", "band").collect().toSeq
    assert(before != after,
      "changed corpus bytes must rebuild the fingerprint table")
    // and the rebuilt table matches the direct derivation of the NEW corpus
    val direct = TextQueries.minhashBands(
      TextQueries.docShingles(graft.Tables.documents(spark, dir)))
      .orderBy("doc_id", "band").collect().toSeq
    assert(after == direct)
  }
}
