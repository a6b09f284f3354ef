package graft

import org.scalatest.funsuite.AnyFunSuite

/** The KERNEL_FILTER audit gate must (a) stay silent on head plans, where
  * InferFiltersFromGenerate is excluded, and (b) fire on the pathological
  * shape the exclusion prevents — proven by re-enabling the rule in a
  * runtime conf and planning the same kernel-explode query.
  */
class PlanAuditSpec extends AnyFunSuite {

  test("kernel-bearing Filter gate: silent at head conf, fires with the rule back on") {
    val spark = GraftSession.get("plan-audit-spec")
    Tables.embeddingsDense(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("embeddings")
    val sql =
      """SELECT vec_id, band, bucket
        |FROM (SELECT vec_id, sign_lsh_buckets(embedding, 4, 8, 'q2:') AS bks
        |      FROM embeddings) e
        |LATERAL VIEW posexplode(bks) t AS band, bucket""".stripMargin

    val headPlan = spark.sql(sql).queryExecution.executedPlan.toString
    assert(!PlanAudit.kernelFilterFlag(headPlan),
      "head plan must not evaluate a kernel inside a Filter")

    // re-enable the rule (runtime conf) and re-plan: the inferred
    // size/isnotnull guard re-appears with the kernel substituted in.
    // Restore the VALUE SAVED before mutating, not a hard-coded list — the
    // memoized session outlives this test, and a stale restore would leak
    // into every later suite in the JVM if GraftSession's exclusions grow.
    val saved = spark.conf.get("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", "")
    try {
      val badPlan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(PlanAudit.kernelFilterFlag(badPlan),
        s"gate failed to flag the regressed plan:\n${badPlan.take(2000)}")
    } finally spark.conf.set("spark.sql.optimizer.excludedRules", saved)
  }

  test("vector AQE gate: real e02 passes, an injected AQE-on plan fails") {
    val spark = GraftSession.get("plan-audit-spec")
    val good = SparkEntry.queries("e02_lsh_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(PlanAudit.vectorAqeOff(good),
      "e02 must plan on the AQE-off dense child session")
    // injected regression: the same dense query planned on the AQE-on
    // parent session roots an AdaptiveSparkPlan
    Tables.embeddingsDense(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("embeddings")
    val bad = spark.sql(
      "SELECT vec_id, sign_lsh_buckets(embedding, 4, 8, 'q2:') AS bks FROM embeddings")
      .queryExecution.executedPlan.toString
    assert(!PlanAudit.vectorAqeOff(bad),
      "gate failed to flag an AQE-on vector plan")
  }

  test("spread gate: kernel over the dense view passes, spread removed fails") {
    val spark = GraftSession.get("plan-audit-spec")
    val sql =
      "SELECT vec_id, sign_lsh_buckets(embedding, 4, 8, 'q2:') AS bks FROM embeddings"
    Tables.embeddingsDense(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("embeddings")
    val good = spark.sql(sql).queryExecution.executedPlan.toString
    assert(PlanAudit.kernelAboveSpreadOk(good))
    // injected regression: same kernel over the RAW table — no round-robin
    // exchange, so the kernel pass is row-group-bound at the scan
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("embeddings")
    val bad = spark.sql(sql).queryExecution.executedPlan.toString
    assert(!PlanAudit.kernelAboveSpreadOk(bad),
      "gate failed to flag a spread-removed dense plan")
    // kernel-free plans pass vacuously (e06's arithmetic-only quantizer)
    assert(PlanAudit.kernelAboveSpreadOk("Project [a]\n+- FileScan parquet"))
  }

  test("spread gate is per-subtree: a sibling branch's spread cannot excuse " +
    "a kernel sunk below its own exchange") {
    // round-8 advice: the old global first-kernel-before-last-RR check
    // passed this multi-branch shape — kernel sunk below its exchange in
    // branch 1, an unrelated RoundRobin in branch 2
    val sunk =
      """SortMergeJoin [k], [k], Inner
        |:- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM
        |:  +- Project [winnow_fp(text) AS fp]
        |:     +- FileScan parquet
        |+- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM
        |   +- Project [k]
        |      +- FileScan parquet""".stripMargin
    assert(!PlanAudit.kernelAboveSpreadOk(sunk),
      "kernel below its own exchange must fail even with a later-branch RR")
    // the healthy shape: each kernel has a spread in its OWN subtree
    val healthy =
      """SortMergeJoin [k], [k], Inner
        |:- Project [winnow_fp(text) AS fp]
        |:  +- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM
        |:     +- FileScan parquet
        |+- Project [nfc_normalize(text) AS t]
        |   +- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM
        |      +- FileScan parquet""".stripMargin
    assert(PlanAudit.kernelAboveSpreadOk(healthy))
    // nfc_normalize rides the same contract (round 9: gate covers d19)
    assert(!PlanAudit.kernelAboveSpreadOk(
      "Project [nfc_normalize(text) AS t]\n+- FileScan parquet"))
  }

  test("gates match kernel CALLS, not kernel-named scan paths or aliases") {
    // round-9 regression: the persisted fingerprint export dir is named
    // `simhash_fp`, so d07/d08's pure-parquet-read plan carried the kernel
    // name in its FileScan Location line; the leaf has no exchange below
    // it, so the old substring matcher failed the spread gate on an ideal
    // plan (PlanAudit exited 1 at HEAD). A path is not an invocation.
    val pureScan =
      """*(1) Project [doc_id#1L, fp#2L]
        |+- *(1) ColumnarToRow
        |   +- FileScan parquet [doc_id#1L,fp#2L] Batched: true, """.stripMargin +
        "Location: InMemoryFileIndex(1 paths)[file:/tmp/graft-exports/" +
        "simhash_fp/c-abc123], ReadSchema: struct<doc_id:bigint,fp:bigint>"
    assert(PlanAudit.kernelAboveSpreadOk(pureScan),
      "a kernel-named export path in a FileScan Location must not trip the spread gate")
    // same immunity for an attribute merely ALIASED to a kernel name
    assert(PlanAudit.kernelAboveSpreadOk(
      "*(2) Filter (simhash_fp#12L > 0)\n+- FileScan parquet [simhash_fp#12L]"))
    assert(!PlanAudit.kernelFilterFlag(
      "Filter (simhash_fp#12L > 0)\n+- FileScan parquet"))
    assert(!PlanAudit.kernelJoinFlag(
      "SortMergeJoin [simhash_fp#12L], [simhash_fp#44L], Inner"))
    // and the other direction: a genuine sunk INVOCATION still fails —
    // the gate must not have been loosened into blindness
    val sunkCall =
      """*(1) Project [simhash_fp(text#3, 64) AS fp#9L]
        |+- FileScan parquet [text#3] Location: InMemoryFileIndex[/data/docs]""".stripMargin
    assert(!PlanAudit.kernelAboveSpreadOk(sunkCall),
      "a real kernel call with no spread below must still fail")
    assert(PlanAudit.kernelFilterFlag(
      "Filter (simhash_fp(text#3, 64) > 0)\n+- FileScan parquet"))
    assert(PlanAudit.kernelJoinFlag(
      "BroadcastHashJoin [a], [b], Inner, (cosine_sim(va#1, vb#2) >= 0.4)"))
  }

  test("winnow_fp_set is a kernel in its own right under call-syntax matching") {
    // round-10 advice: `"winnow_fp_set("` does not contain `"winnow_fp("`,
    // so the call-syntax matcher silently dropped the SET form — d26's
    // `explode(winnow_fp_set(text))` (the only Generate-over-kernel query,
    // the exact shape the filter gate was built for) would have merged a
    // documentsDense-dropping refactor with no gate tripping. The set form
    // must be a first-class KernelNames entry.
    val sunkSet =
      """Generate posexplode(winnow_fp_set(text#3, 8)), [doc_id#1L], false
        |+- FileScan parquet [doc_id#1L,text#3] Location: InMemoryFileIndex[/data/docs]""".stripMargin
    assert(!PlanAudit.kernelAboveSpreadOk(sunkSet),
      "a sunk winnow_fp_set( invocation must fail the spread gate")
    assert(PlanAudit.kernelAboveSpreadOk(
      """Generate posexplode(winnow_fp_set(text#3, 8)), [doc_id#1L], false
        |+- Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM
        |   +- FileScan parquet [doc_id#1L,text#3]""".stripMargin))
    assert(PlanAudit.kernelFilterFlag(
      "Filter (size(winnow_fp_set(text#3, 8)) > 0)\n+- FileScan parquet"))
    assert(PlanAudit.kernelJoinFlag(
      "SortMergeJoin [k], [k], Inner, (winnow_fp_set(ta#1, 8) = winnow_fp_set(tb#2, 8))"))
    // path/alias immunity holds for the set form too
    assert(PlanAudit.kernelAboveSpreadOk(
      "FileScan parquet [fp#2L] Location: InMemoryFileIndex[/tmp/exports/winnow_fp_set/c-1]"))
    assert(!PlanAudit.kernelFilterFlag(
      "Filter (winnow_fp_set#12 > 0)\n+- FileScan parquet"))
  }

  test("join-condition kernel gate: fires on a kernel in a join condition") {
    // string-level predicate (the probed e04/e05 shape); the whitelist is
    // exercised by PlanAudit's main over the real suite
    val joined = "*(9) BroadcastHashJoin [idb], [vec_id], Inner, BuildRight, " +
      "(round((dot_product(embedding, embedding) / nrm), 6) >= 0.4)"
    assert(PlanAudit.kernelJoinFlag(joined))
    assert(!PlanAudit.kernelJoinFlag(
      "*(9) BroadcastHashJoin [idb], [vec_id], Inner, BuildRight"))
    assert(PlanAudit.JoinKernelAllowed("e04_cosine_neardup_pairs"))
  }

  test("store-probe gate: a warm micro-batch plan passes, the same plan " +
    "without the pushed In fails") {
    val spark = GraftSession.get("plan-audit-spec")
    val root = java.nio.file.Files.createTempDirectory("store-probe-gate").toString
    // 100-row pages: ~20 data-page chunks, so the probe's In stays an In
    spark.range(0, 2000).select(org.apache.spark.sql.functions.col("id"))
      .coalesce(1).write.option("parquet.page.row.count.limit", "100")
      .parquet(s"$root/src")
    val src = new java.io.File(s"$root/src").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val in = new java.io.File(s"$root/in"); in.mkdirs()
    def wave(name: String): Unit = {
      java.nio.file.Files.copy(src, new java.io.File(in, name).toPath)
      cawd.StreamingEngine.start(spark, in.getPath, s"$root/store", s"$root/stats",
        ".parquet", cawd.CawdEngine.Parquet, s"$root/ckpt").awaitTermination()
    }
    StreamingPlanCapture.enabled = true
    try {
      // wave 1 fills the store; wave 2 resends the file: the warm probe
      wave("a.parquet")
      StreamingPlanCapture.reset()
      wave("b.parquet")
      val warm = StreamingPlanCapture.all.map(_._2).mkString("\n")
      assert(PlanAudit.storeProbePushedOk(warm), warm)
      // injected regression: the same plan whose store scans push only the
      // null check (the In list is cut short in plan text, so the whole
      // PushedFilters value is replaced)
      val noIn = warm.replaceAll("PushedFilters: \\[[^\\n]*?(?=, ReadSchema:)",
        "PushedFilters: [IsNotNull(signature)]")
      assert(noIn != warm && !noIn.contains("In(signature,"))
      assert(!PlanAudit.storeProbePushedOk(noIn),
        s"gate failed to flag a store scan without the pushed In:\n$noIn")
    } finally {
      StreamingPlanCapture.enabled = false
      StreamingPlanCapture.reset()
    }
  }
}
