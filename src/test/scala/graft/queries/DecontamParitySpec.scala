package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry, Tables}

/** Round-11 decontamination rewrite: d15/d17 now read a PERSISTED
  * benchmark shingle set, prefilter with a PERSISTED serialized bloom,
  * and verify with an exact semi-join. Blooms have no false negatives and
  * the semi-join removes false positives, so both must equal the plain
  * exact inverted-index derivation — this spec recomputes that derivation
  * inline (no persistence, no bloom) and compares row-for-row, so a
  * stale-content-key bug, a bloom built over the wrong hash, or a
  * dropped-distinct regression fails in `sbt test` without the oracle.
  */
class DecontamParitySpec extends AnyFunSuite {

  private val d = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("d15/d17 persisted-bloom paths equal the exact inverted-index join") {
    val spark = GraftSession.get("decontam-parity-spec")
    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"),
        explode(expr(TextQueries.shingle5Expr)).as("s5"))
      .distinct()
    val bench = sh.filter(col("source") === "src0").select("s5").distinct()
    val hits = sh.filter(col("source") =!= "src0").join(bench, Seq("s5"))

    val exactD15 = hits.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shared_shingles"))
    val gotD15 = SparkEntry.queries("d15_decontamination")(spark, d)
    assert(rows(gotD15) == rows(exactD15),
      "d15 persisted-bloom result != exact inverted-index derivation")
    assert(gotD15.count() > 0, "d15 parity check is vacuous (no overlap rows)")

    val exactD17 = hits.groupBy(col("source")).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_hits"),
      countDistinct(col("s5")).as("n_distinct_shingles"))
    val gotD17 = SparkEntry.queries("d17_bloom_decontamination")(spark, d)
    assert(rows(gotD17) == rows(exactD17),
      "d17 persisted-bloom result != exact inverted-index derivation")
  }

  /** One FILE per table, like the driver corpus layout (the chunkers and
    * glob filters key on it).
    */
  private def writeDocs(spark: org.apache.spark.sql.SparkSession,
                        dir: String, salt: String): Unit = {
    import spark.implicits._
    val docs = (1 to 12).map { i =>
      val src = if (i <= 3) "src0" else s"src${i % 3 + 1}"
      // contaminated docs share the benchmark's salted 5-grams; clean docs
      // carry their own tokens
      val text =
        if (i <= 3) s"alpha$salt bravo$salt charlie delta echo foxtrot golf hotel$i india"
        else if (i <= 6) s"alpha$salt bravo$salt charlie delta echo extra$i tokens here now"
        else s"clean$i$salt words without any benchmark overlap at all doc$i"
      (i.toLong, text, "en", src, text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.tmp_docs")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/.tmp_docs/part-*.parquet"))(0).getPath
    val target = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    fs.delete(target, true)
    fs.rename(part, target)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.tmp_docs"), true)
  }

  /** The content-key contract under corpus MUTATION (round-11 verdict #8):
    * a corpus regenerated in place must rebuild bench_shingles AND the
    * serialized bench_bloom — a stale benchmark set would silently
    * decontaminate against the previous corpus.
    */
  test("in-place corpus regeneration invalidates bench_shingles + bench_bloom") {
    val spark = GraftSession.get("decontam-parity-spec")
    val dir = java.nio.file.Files.createTempDirectory("decontam-inval").toString
    writeDocs(spark, dir, "v1")
    val before = rows(TextQueries.benchShingles(spark, dir))
    val bloomBefore = TextQueries.benchBloomBytes(spark, dir).toSeq
    writeDocs(spark, dir, "v2")
    val after = rows(TextQueries.benchShingles(spark, dir))
    val bloomAfter = TextQueries.benchBloomBytes(spark, dir).toSeq
    assert(before != after, "changed corpus bytes must rebuild bench_shingles")
    assert(bloomBefore != bloomAfter,
      "changed corpus bytes must rebuild the serialized bench bloom")
    // and the rebuilt set IS the new corpus's benchmark shingle set
    val direct = rows(Tables.documents(spark, dir)
      .filter(col("source") === "src0")
      .select(split(col("text"), " ").as("w"))
      .select(explode(expr(TextQueries.shingle5Expr)).as("s5"))
      .distinct())
    assert(after == direct,
      "rebuilt bench_shingles != direct derivation of the regenerated corpus")
  }
}
