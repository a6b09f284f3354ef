package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A directory holding one multi-stripe ORC file (`t.orc`, zlib, 64 KiB
  * stripes) and one parquet file (`t.parquet`) of the same 20,000 rows:
  * input for every [[Variant]].
  */
object VariantFixture {

  def write(spark: SparkSession, prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val df = spark.range(0, 20000).select(
      col("id"),
      (col("id") % 13).cast("double").as("d"),
      concat(lit("text-"), col("id") % 97).as("s"))
    def single(out: String, name: String, write: String => Unit): Unit = {
      write(out)
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(name.dropWhile(_ != '.')))
        .get
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, name))
    }
    val work = Files.createTempDirectory(s"$prefix-src").toString
    single(s"$work/orc", "t.orc", df.orderBy("id").coalesce(1).write
      .option("compression", "zlib").option("orc.stripe.size", "65536").orc(_))
    single(s"$work/pq", "t.parquet", df.orderBy("id").coalesce(1).write.parquet(_))
    dir
  }
}
