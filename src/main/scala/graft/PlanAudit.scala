package graft

/** Physical-plan audit over every registered query: prints join red flags
  * and per-scan column counts so scale regressions (a nested-loop join
  * sneaking in, a scan losing its column pruning) show up as a diff.
  *
  * Expected flags at head: e01 reports NLJ — it is the labeled brute-force
  * baseline (broadcast query side × corpus, quadratic BY DESIGN; e02/e03
  * are the scale paths). SortMergeJoin is not a red flag: it is the right
  * physical join for large-large equi-joins (shingle and band joins).
  *
  * Streaming queries (s01-s07) return only a batch view of a drained
  * stream, so their real work — per-micro-batch IncrementalExecutions and
  * foreachBatch interiors — is recorded through [[StreamingPlanCapture]]
  * (enabled here, off everywhere else) and folded into the same checks.
  *
  * Run: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {

  /** Hard GATES (not prints) on recorded streaming micro-batch plans: a
    * regression in the plans that do the actual streaming work must exit
    * the audit nonzero, same as a CARTESIAN in a batch plan. Each entry is
    * (query, description, predicate) over the CONCATENATION of every plan
    * recorded while that query ran — "any recorded plan satisfies" for
    * presence checks (s01's cold wave-1 batch has no store scan; the warm
    * wave-2 must show the pruned probe). Additionally every s* query must
    * record at least one plan: an empty capture means the audit went
    * blind, which is itself a regression.
    */
  private val streamGates: Seq[(String, String, String => Boolean)] = Seq(
    ("s07_stream_static_decontam",
      "stream-static join must broadcast the static bench side (no shuffle join)",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")),
    ("s01_streaming_dedup",
      "warm store probe must prune the batch partition and push In(signature) " +
        "into the store scan",
      storeProbePushedOk),
    ("s01_streaming_dedup",
      "store probe must stay broadcast: semi join (big-probe fallback) or " +
        "In-pushdown hits join with an INSET-filtered store scan",
      // Two accepted postures, both keeping the batch side unshuffled:
      // the aggregate/semi fallback for oversized probes (broadcast semi),
      // or the round-9 point-index path — probe signatures pushed into the
      // store scan as In predicates (INSET in DataFilters engages the
      // sorted-page column index + blooms) with the bounded hits relation
      // broadcast back as a left join. A shuffle join in either shape
      // still fails.
      p => "BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(p).isDefined ||
        ("BroadcastHashJoin [^\\n]*LeftOuter, BuildRight".r.findFirstIn(p).isDefined &&
          "FileScan parquet [^\\n]*INSET".r.findFirstIn(p).isDefined)))

  /** The warm store probe's shape: some store `FileScan` prunes by the
    * `batch` partition (a micro-batch never reads its own partition) and
    * pushes the probe signatures as `In(signature, …)`, which is what lets
    * the reader skip row groups and pages of the signature-sorted store
    * files. A scan without the pushed In reads every page of the store.
    */
  private[graft] def storeProbePushedOk(plan: String): Boolean =
    plan.linesIterator.exists { l =>
      l.contains("FileScan parquet") &&
        "PartitionFilters: \\[[^\\]]*batch".r.findFirstIn(l).isDefined &&
        "PushedFilters: \\[[^\\]]*In\\(signature,".r.findFirstIn(l).isDefined
    }

  /** Graft's dense kernel expressions. A FILTER whose condition evaluates
    * one of these is the InferFiltersFromGenerate pathology (round 7): the
    * rule duplicates the kernel into an inferred guard and predicate
    * pushdown sinks it below the rows-not-bytes repartition into the raw
    * scan — whose width is row-group-bound, so a whole kernel pass
    * serializes into 1-2 tasks (measured: hours at the 1000× corpus). The
    * rule is excluded in GraftSession; this gate fails the audit loudly if
    * the shape ever reappears (rule re-enabled, a future optimizer rule
    * recreating it, or a hand-written kernel predicate).
    */
  private val KernelNames =
    Seq("sign_lsh_buckets", "winnow_fp", "winnow_fp_set", "simhash_fp",
      "cosine_sim", "dot_product")

  /** A kernel *invocation* in a plan line — `name(` — as opposed to the
    * name appearing as a substring of something else. Round 10: the
    * persisted fingerprint export directory is literally named
    * `simhash_fp`, so d07/d08's FileScan `Location: InMemoryFileIndex
    * [.../simhash_fp]` line matched the old bare-substring check and
    * tripped the spread gate on a pure parquet read (a leaf line has no
    * exchange below it by construction). Requiring the call syntax keeps
    * every genuine kernel expression matched — Catalyst always renders
    * them as `name(args...)` in Project/Filter/Join text — while paths
    * (`.../simhash_fp]`) and attributes aliased to a kernel name
    * (`simhash_fp#12`) no longer count.
    */
  private def kernelCallIn(line: String, names: Seq[String]): Boolean =
    names.exists(n => line.contains(n + "("))

  private[graft] def kernelFilterFlag(plan: String): Boolean =
    plan.linesIterator.exists { l =>
      val t = l.dropWhile(c => c == ' ' || c == ':' || c == '+' || c == '-')
      (t.startsWith("Filter ") || t.startsWith("*Filter ") ||
        "^\\*\\(\\d+\\) Filter ".r.findFirstIn(t).isDefined) &&
        kernelCallIn(t, KernelNames)
    }

  /** Catalyst also substitutes kernel expressions into JOIN conditions when
    * pushing predicates like `cos >= t` into the pair join (the d22
    * levenshtein behavior, round 7) — a kernel evaluated per JOINED pair in
    * the condition AND again in the project above, or sunk below an
    * exchange inside the condition, which the Filter-only gate missed.
    * Queries whose SEMANTICS are a per-candidate-pair kernel predicate
    * (e04/e05's cosine-threshold verify — the kernel must run per pair
    * either way, and the probed plans show it stays above the spread)
    * are whitelisted in [[JoinKernelAllowed]]; a kernel appearing in any
    * OTHER query's join condition is a regression.
    */
  private[graft] val JoinKernelAllowed =
    Set("e04_cosine_neardup_pairs", "e05_semantic_dedup")
  private[graft] def kernelJoinFlag(plan: String): Boolean =
    plan.linesIterator.exists { l =>
      val t = l.trim
      t.contains("Join") && kernelCallIn(t, KernelNames)
    }

  /** Kernels riding the rows-not-bytes spread contract: the dense vector
    * kernels plus the per-row text kernels (winnow_fp in d09/d26,
    * nfc_normalize in d19/d20) — all are CPU passes whose width must come
    * from a row-sized repartition, not the raw scan's row-group count.
    */
  private[graft] val SpreadKernelNames = KernelNames :+ "nfc_normalize"

  /** Dense-kernel-above-spread contract (`Tables.spread`): a dense kernel
    * projection must sit ABOVE a round-robin exchange, so the kernel pass
    * runs at rows-sized width instead of the raw scan's row-group-bound
    * 1-2 tasks (the round-7 1000× finding — hours of serial compute for a
    * ~40 s parallel stage). Scoped PER SUBTREE (round-8 advice): each
    * kernel-bearing line must have a RoundRobinPartitioning somewhere in
    * its OWN subtree — the lines that follow it at strictly greater tree
    * depth — so a kernel sunk below its exchange in one branch of a
    * self-join cannot be excused by a spread in a later sibling branch.
    * Plans with no kernel at all (e06's arithmetic-only quantizer) pass
    * vacuously; a plan whose spread vanished entirely fails.
    */
  private[graft] def kernelAboveSpreadOk(plan: String): Boolean = {
    val lines = plan.linesIterator.toIndexedSeq
    // tree-glyph column = depth: a child's ":- "/"+- " sits right of its
    // parent's; root lines carry no glyph (depth -1, shallower than all)
    def depth(l: String): Int = {
      val i = l.indexOf("+- ")
      val j = l.indexOf(":- ")
      if (i < 0) j else if (j < 0) i else math.min(i, j)
    }
    val ks = lines.indices.filter(i => kernelCallIn(lines(i), SpreadKernelNames))
    ks.forall { i =>
      val d = depth(lines(i))
      var j = i + 1
      var ok = false
      while (j < lines.length && depth(lines(j)) > d && !ok) {
        if (lines(j).contains("RoundRobinPartitioning")) ok = true
        j += 1
      }
      ok
    }
  }

  /** Vector-pack execution posture: e01–e07 must run on the AQE-off dense
    * child session (round 7 measured AQE's per-stage barriers at ~2× wall
    * time family-wide on these ~60-stage sub-second-stage plans). A
    * silent fallback to the AQE-on parent plans an AdaptiveSparkPlan root —
    * gate it, don't trust the session wiring.
    */
  private[graft] def vectorAqeOff(plan: String): Boolean =
    !plan.contains("AdaptiveSparkPlan")

  /** Join red flags + top-level ReadSchema field counts of one plan. */
  private def inspect(plan: String): (Seq[String], Seq[Int]) = {
    val flags = Seq(
      "NLJ" -> plan.contains("BroadcastNestedLoopJoin"),
      "CARTESIAN" -> plan.contains("CartesianProduct"),
      "SMJ" -> plan.contains("SortMergeJoin"),
      "KERNEL_FILTER" -> kernelFilterFlag(plan),
      "KERNEL_JOIN" -> kernelJoinFlag(plan)
    ).collect { case (f, true) => f }
    // count TOP-LEVEL fields of each ReadSchema (nested array<>/struct<>
    // types must not truncate the match or inflate the count)
    val scans = "ReadSchema: struct<(.*)>".r.findAllMatchIn(plan).map { m =>
      var depth = 0
      var fields = if (m.group(1).isEmpty) 0 else 1
      m.group(1).foreach {
        case '<'               => depth += 1
        case '>'               => depth -= 1
        case ',' if depth == 0 => fields += 1
        case _                 =>
      }
      fields
    }.toSeq
    (flags, scans)
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet // dev: audit only the named queries
    val spark = GraftSession.get("plan-audit")
    // default 100-char truncation would cut ReadSchema mid-field and hide
    // exactly the pruning regressions this audit exists to catch
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    StreamingPlanCapture.enabled = true
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      try {
        StreamingPlanCapture.reset()
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        // every micro-batch/foreachBatch plan recorded while fn ran belongs
        // to this query; tag each so the audit line says where flags live
        val streamPlans = StreamingPlanCapture.all
        val allPlans = ("result", plan) +: streamPlans
        val perPlan = allPlans.map { case (tag, p) => (tag, inspect(p)) }
        val flags = perPlan.flatMap(_._2._1).distinct
        val scans = perPlan.flatMap(_._2._2)
        // streaming gates: concatenated recorded plans, any-plan semantics
        val combined = streamPlans.map(_._2).mkString("\n")
        val gateFails =
          (if (name.startsWith("s") && streamPlans.isEmpty)
             Seq("no micro-batch plan recorded (capture went blind)")
           else Seq.empty) ++
            streamGates.collect {
              case (q, desc, pred) if q == name && !pred(combined) => desc
            } ++
            // execution-posture gates for the vector pack (round 8): the
            // dense-session wiring and the spread contract are perf wins an
            // innocent refactor can silently lose — hard-fail, don't print
            (if (name.startsWith("e0") && !vectorAqeOff(plan))
               Seq("vector-pack query planned under AQE (dense child session lost)")
             else Seq.empty) ++
            // round 9: the spread contract covers EVERY kernel-bearing
            // query, not just e0* — a refactor dropping documentsDense from
            // d09 would serialize a 1000× winnow pass with no gate tripping
            (if (!kernelAboveSpreadOk(plan))
               Seq("kernel not above a round-robin spread exchange in its subtree")
             else Seq.empty)
        val unexpected = (flags.contains("CARTESIAN")
          || (flags.contains("NLJ") && name != "e01_cosine_topk")
          || flags.contains("KERNEL_FILTER")
          || (flags.contains("KERNEL_JOIN") && !JoinKernelAllowed(name))
          || gateFails.nonEmpty)
        if (unexpected) bad += 1
        val streamNote =
          if (streamPlans.isEmpty) ""
          else s" streamPlans=${streamPlans.map(_._1).mkString("+")}"
        println(s"AUDIT $name flags=${flags.mkString("+")}" +
          s" scanCols=${scans.mkString(",")}$streamNote" +
          s"${if (unexpected) "  <-- UNEXPECTED" else ""}")
        gateFails.foreach(g => println(s"AUDIT $name GATE FAILED: $g"))
      } catch {
        case e: Throwable => println(s"AUDIT $name ERROR ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
