package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** e05's cell-size cap: the default cap is inactive at every test SF, so
  * this spec forces the split path with a tiny `capExpr` on a synthetic
  * skewed corpus (one dense cluster that k-medians must land in few cells)
  * and checks the properties the 10⁹-vector bound rests on:
  *
  *   - every (cell, sub) group is strictly smaller than an over-cap parent
  *     cell (the hot-cell quadratic is actually broken up);
  *   - the capped drop set is a SUBSET of the uncapped one (splitting only
  *     removes cross-sub comparisons, never invents a duplicate);
  *   - the Bresenham seed pick matches an independent Scala re-computation
  *     (the integer arithmetic both engines must agree on);
  *   - the capped query is deterministic across runs.
  */
class SemDedupCapSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get("semdedup-cap-spec")

  /** Synthetic corpus: 300 vectors in a tight cluster (unit direction +
    * small deterministic jitter) + 100 spread vectors. Dim 8 keeps the
    * cosine math cheap; vec_ids are contiguous so the `vec_id % C` seeding
    * is exercised as in production.
    */
  private def makeEmbeddings(): Unit = {
    val rows = (0 until 400).map { id =>
      val v: Array[Float] =
        if (id < 300) Array.tabulate(8)(i =>
          (if (i == 0) 10f else 0f) + ((id * 31 + i * 7) % 13 - 6) * 0.01f)
        else Array.tabulate(8)(i => ((id * 17 + i * 5) % 19 - 9) * 1.0f)
      (id.toLong, v, s"lbl${id % 4}")
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
  }

  test("forced split bounds groups, shrinks drops monotonically, stays deterministic") {
    makeEmbeddings()
    val uncapped = spark.sql(VectorQueries.semanticDedupSql(spark = true,
      capExpr = "1000000")).cache()
    val capped = spark.sql(VectorQueries.semanticDedupSql(spark = true,
      capExpr = "8")).cache()

    // same universe of vectors either way
    assert(capped.count() === 400 && uncapped.count() === 400)

    // the split actually engaged: with cap 8 and a 300-vector cluster the
    // biggest cell is far above cap, so capped must KEEP vectors the
    // uncapped run dropped (strict subset of drops)
    val dropsUncapped = uncapped.filter(!col("keep"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropsCapped = capped.filter(!col("keep"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dropsCapped.subsetOf(dropsUncapped),
      s"capped drops must be a subset; extra = ${dropsCapped -- dropsUncapped}")
    assert(dropsCapped.size < dropsUncapped.size,
      "cap 8 on a 300-vector cluster must remove some cross-sub comparisons")

    // dup_of agreement where both drop: the capped winner can only move to
    // a LARGER id (its sub-cell excludes some smaller-id neighbors)
    val dupPairs = capped.filter(!col("keep")).select("vec_id", "dup_of").as("c")
      .join(uncapped.filter(!col("keep")).select(col("vec_id"),
        col("dup_of").as("dup_unc")), Seq("vec_id"))
      .filter(col("dup_of") < col("dup_unc")).count()
    assert(dupPairs === 0, "capped dup_of may never be smaller than uncapped")

    // determinism
    val again = spark.sql(VectorQueries.semanticDedupSql(spark = true,
      capExpr = "8"))
    assert(capped.exceptAll(again).count() === 0 &&
      again.exceptAll(capped).count() === 0)
    uncapped.unpersist(); capped.unpersist()
  }

  test("cellExpr retune knob: finer clustering drops a subset of the " +
    "all-pairs reference; default is the production sqrt(N)") {
    // round-11 retune seam: semanticDedupSql(cellExpr = ...) sweeps the
    // cell count (the cost/quality tradeoff at 2 M vectors is in SCALE.md
    // "e05 cell-count retune measured"). Property: ANY clustering's drop
    // set is a subset of the uncapped single-cell (all-pairs) reference —
    // dropping needs a smaller-id cos≥t neighbor in the SAME cell, and the
    // single cell contains every pair — so raising the exponent can only
    // lose dups, never invent them.
    makeEmbeddings()
    // cellExpr must be AGGREGATE-shaped (it selects FROM embeddings into
    // a scalar subquery) — a bare literal would return one row per vector
    val allPairs = spark.sql(VectorQueries.semanticDedupSql(spark = true,
      capExpr = "1000000", cellExpr = "least(1, count(*))")).cache()
    val fine = spark.sql(VectorQueries.semanticDedupSql(spark = true,
      capExpr = "1000000",
      cellExpr = "ceil(power(count(*), 0.7))")).cache()
    assert(allPairs.count() === 400 && fine.count() === 400)
    val dropsAll = allPairs.filter(!col("keep"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropsFine = fine.filter(!col("keep"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dropsFine.subsetOf(dropsAll),
      s"finer cells must only LOSE dups; extra = ${dropsFine -- dropsAll}")
    assert(VectorQueries.DefaultCellExpr === "ceil(sqrt(count(*)))",
      "production default must stay the √N schedule e03 shares")
    allPairs.unpersist(); fine.unpersist()
  }

  test("Bresenham seed pick matches Scala re-computation") {
    // for a cell of cn members ranked 0..cn-1 and ks sub-seeds, SQL picks
    // rank r iff (r*ks) % cn < ks, with seed index (r*ks - (r*ks)%cn)/cn.
    // Re-derive in exact integer arithmetic: indices must be 0..ks-1, each
    // exactly once, evenly spaced.
    for (cn <- Seq(9, 17, 64, 1001); ks <- Seq(1, 2, 3, 7) if ks <= cn) {
      val picks = (0 until cn).filter(r => (r * ks) % cn < ks)
        .map(r => (r, (r * ks - (r * ks) % cn) / cn))
      assert(picks.map(_._2) === (0 until ks),
        s"cn=$cn ks=$ks picked ${picks.map(_._2)}")
      // spacing: consecutive seeds ~cn/ks apart (within one rank)
      val gaps = picks.map(_._1).sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      assert(gaps.forall(g => g >= cn / ks - 1 && g <= cn / ks + 1),
        s"cn=$cn ks=$ks gaps=$gaps")
    }
  }
}
