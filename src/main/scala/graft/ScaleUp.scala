package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger benchmark corpus from a driver-provided scale-factor dir
  * by replicating each table `factor` times with disjoint key ranges.
  *
  * This exists for one-order-of-magnitude scale validation (BENCH_sf1): the
  * driver ships sf0.001/0.01/0.1 only, and the 100 TB design claims (skew-free
  * joins, split-level parallelism, candidate generation that stays linear)
  * deserve at least one 10× checkpoint. Replicas are decorrelated, not
  * byte-copies, so data-dependent operators scale the way a real corpus
  * would instead of collapsing into cross-replica duplicate explosions:
  *
  *   - every key column gets `rep * 1e9` added (all keys are BIGINT; ranges
  *     stay disjoint), dimension keys consistently across fact/dim tables;
  *   - `documents.text` is salted per replica by prefixing every token with
  *     `r<rep>x`, so every shingle/minhash/simhash value differs across
  *     replicas (near-dup structure is preserved within each replica, and
  *     replica 0 keeps the original corpus bit-for-bit);
  *   - `embeddings.embedding` is rotated by `rep` positions — norms are
  *     preserved, directions decorrelate, so LSH buckets and IVF cells get
  *     10× the occupancy instead of 10 copies of each point;
  *   - `region`/`nation` stay fixed (they are fixed-size at every TPC-H SF).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> [factor=10] [tables]
  * `tables` (comma-separated) restricts output — e.g. `embeddings` builds
  * just the 1000× ANN-validation corpus without 1000× of text/media.
  */
object ScaleUp {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def wanted(name: String): Boolean = tables.isEmpty || tables(name)
    val spark = GraftSession.get("graft-scaleup")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // the driver layout is ONE parquet FILE per table (not a directory):
    // the streaming source's pathGlobFilter and the cawd engine's
    // suffix-driven file listing both key on that, so the scaled corpus
    // must match it — write a single part file and move it into place
    def write(df: DataFrame, name: String): Unit = if (wanted(name)) {
      import org.apache.hadoop.fs.Path
      val tmp = s"$dest/.tmp_$name"
      // 16 MB row groups (default 128 MB): parquet splits only at row-group
      // boundaries, so a single-file corpus written with default blocks
      // gives scans 1-2 effective tasks no matter what
      // files.maxPartitionBytes asks for — the 1000× embeddings file
      // measured its whole first decode in ONE task. Small row groups keep
      // the one-file-per-table driver layout while letting the 32 MB scan
      // splits actually land on distinct row groups.
      df.repartition(1).write.mode("overwrite")
        .option("parquet.block.size", (16L * 1024 * 1024).toString)
        .parquet(tmp)
      val conf = HadoopConf.shared
      val fs = new Path(dest).getFileSystem(conf)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      val target = new Path(s"$dest/$name.parquet")
      fs.delete(target, true)
      fs.rename(part, target)
      fs.delete(new Path(tmp), true)
    }

    // replica id column; explode keeps this a narrow map-side transform
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(expr(s"sequence(0L, ${factor - 1}L)")))
    def off(c: String): org.apache.spark.sql.Column =
      col(c) + col("rep") * Stride

    write(read("region"), "region")
    write(read("nation"), "nation")

    write(reps(read("customer")).withColumn("c_custkey", off("c_custkey"))
      .drop("rep"), "customer")
    write(reps(read("supplier")).withColumn("s_suppkey", off("s_suppkey"))
      .drop("rep"), "supplier")
    write(reps(read("part")).withColumn("p_partkey", off("p_partkey"))
      .drop("rep"), "part")
    write(reps(read("orders"))
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey"))
      .drop("rep"), "orders")
    write(reps(read("lineitem"))
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey"))
      .drop("rep"), "lineitem")
    write(reps(read("events"))
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id"))
      .drop("rep"), "events")

    write(reps(read("documents"))
      .withColumn("doc_id", off("doc_id"))
      .withColumn("text", expr(
        """CASE WHEN rep = 0 THEN text
          |ELSE regexp_replace(text, '(^| )',
          |       concat('$1r', CAST(rep AS STRING), 'x')) END""".stripMargin))
      .withColumn("n_chars", length(col("text")))
      .drop("rep"), "documents")

    // rotation index wraps at the dimension count (64); replicas past the
    // wrap additionally NEGATE (norms preserved, cos sign flips), so every
    // replica up to factor 128 stays direction-distinct from all others —
    // a plain rep-position slice went negative-length at factor > 64.
    // Replicas ≥ 128 (the 1000× ANN-validation corpus) apply a
    // hash(rep, dim)-keyed per-dimension sign flip instead — a diagonal ±1
    // orthogonal transform, so norms are still preserved while every
    // rotation class gets 2⁶⁴ distinct sign patterns; without it factor
    // 1000 would repeat the 128 available rotation/negation combos ~8×
    // and collapse IVF cells into cross-replica duplicate explosions.
    //
    // vec_id is replica-INTERLEAVED (base·factor + rep — dense 0..N−1),
    // NOT stride-offset like the other tables (round 11): the vector
    // pack's probe filter samples `vec_id % qmod = 0` with qmod a power
    // of 10, and the 10⁹ stride is ≡ 0 mod every such qmod — on an 8 M
    // stride-id corpus the "sampled" probe set degenerated to ALL 4000
    // replicas of base vector 0 (400× the intended probe budget: the
    // exact baseline became 3.2×10¹⁰ scored pairs and ran for an hour
    // before being killed; it also made earlier stride-corpus anchors run
    // one-base probe sets — elevated probe counts, valid but degenerate
    // diversity). Dense interleaved ids restore the uniform sample the
    // modulus scheme assumes on ORGANIC corpora. Corpora generated before
    // this change keep their on-disk construction; their committed recall
    // rows stand as measured.
    write(reps(read("embeddings"))
      .withColumn("vec_id", col("vec_id") * factor + col("rep"))
      .withColumn("embedding", expr(
        """CASE WHEN rep = 0 THEN embedding
          |ELSE transform(
          |  concat(slice(embedding, CAST(rep % 64 + 1 AS INT),
          |               size(embedding) - CAST(rep % 64 AS INT)),
          |         slice(embedding, 1, CAST(rep % 64 AS INT))),
          |  (x, i) -> CASE WHEN rep < 64 THEN x
          |                 WHEN rep < 128 THEN -x
          |                 WHEN pmod(hash(rep, i), 2) = 0 THEN x
          |                 ELSE -x END) END""".stripMargin))
      .drop("rep"), "embeddings")

    println(s"[scaleup] wrote $factor x $src -> $dest")
    spark.stop()
  }
}
