package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry, Tables}

/** Round-11 persisted trained-IVF index: the split into a centroid build
  * (training rounds without the final scoring pass) plus an assign build
  * (that final pass against the parquet-round-tripped centroids) must be
  * VALUE-IDENTICAL to inline training — same trained cells, same probes,
  * same rerank rows, same dedup drops. The DuckDB oracle already proves
  * this at sf0.01; this spec proves it against the engine's OWN inline
  * derivation, so a persistence bug (stale content key, lossy round-trip,
  * wrong-round centroids, full/sampled table mixup) fails fast in
  * `sbt test` without the oracle.
  */
class IvfPersistSpec extends AnyFunSuite {

  private val d = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("e03/e07/e05 persisted-index results equal inline training") {
    val spark = GraftSession.get("ivf-persist-spec")
    // the inline derivations need the same dense-session embeddings view
    // the query entries register; same child session, same corpus
    val ds = GraftSession.child(spark, VectorQueries.DenseTag, aqe = false)
    Tables.embeddingsDense(ds, d).createOrReplaceTempView("embeddings")
    val inline = Seq(
      "e03_ivf_topk" -> VectorQueries.ivfSql(spark = true),
      "e07_ivf_topk_sampled" ->
        VectorQueries.ivfSql(spark = true, trainSample = true),
      "e05_semantic_dedup" -> VectorQueries.semanticDedupSql(spark = true))
    inline.foreach { case (q, sql) =>
      val persisted = rows(SparkEntry.queries(q)(spark, d))
      val direct = rows(ds.sql(sql))
      assert(persisted.nonEmpty, s"$q returned no rows")
      assert(persisted == direct, s"$q persisted-index result != inline training")
    }
  }

  /** One FILE per table, like the driver layout. Deterministic synthetic
    * embeddings: 96 vectors of dim 64, coordinates a fixed trig function of
    * (seed, id, dim) so a different seed changes every vector (and thus the
    * corpus content hash) without any RNG state.
    */
  private def writeVecs(spark: org.apache.spark.sql.SparkSession,
                        dir: String, seed: Int): Unit = {
    import spark.implicits._
    val vecs = (0 until 96).map { id =>
      val emb = (0 until 64).map(i =>
        math.sin(seed * 1.7 + id * 0.31 + i * 0.113).toFloat).toArray
      (id.toLong, emb, id % 3)
    }
    vecs.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.tmp_vecs")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/.tmp_vecs/part-*.parquet"))(0).getPath
    val target = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    fs.delete(target, true)
    fs.rename(part, target)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.tmp_vecs"), true)
  }

  /** The content-key contract under corpus MUTATION (round-11 verdict #8):
    * an embeddings corpus regenerated in place must rebuild
    * `ivf_centroids_*`/`ivf_assign_*`, and the rebuilt-index answer must
    * equal INLINE training on the new corpus — a stale trained index would
    * silently serve neighbors from the previous corpus. At 96 vectors the
    * exact rerank can mask a stale index in e03's answer, so the persisted
    * centroid table itself must change too.
    */
  test("in-place corpus regeneration invalidates the persisted IVF index") {
    val spark = GraftSession.get("ivf-persist-spec")
    val dir = java.nio.file.Files.createTempDirectory("ivf-inval").toString
    def centroids(): Seq[String] =
      rows(spark.read.parquet(graft.cawd.CawdExport.dir(dir, "ivf_centroids_f")))
    writeVecs(spark, dir, seed = 1)
    val before = rows(SparkEntry.queries("e03_ivf_topk")(spark, dir))
    val centroidsBefore = centroids()
    writeVecs(spark, dir, seed = 2)
    val after = rows(SparkEntry.queries("e03_ivf_topk")(spark, dir))
    assert(before != after, "changed corpus bytes must rebuild the IVF index")
    assert(centroids() != centroidsBefore,
      "changed corpus bytes must retrain the persisted IVF centroids")
    val ds = GraftSession.child(spark, VectorQueries.DenseTag, aqe = false)
    Tables.embeddingsDense(ds, dir).createOrReplaceTempView("embeddings")
    val direct = rows(ds.sql(VectorQueries.ivfSql(spark = true)))
    assert(after == direct,
      "rebuilt-index e03 != inline training on the regenerated corpus")
  }
}
