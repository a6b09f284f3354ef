package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory so every main/test runs with identical,
  * scale-appropriate settings.
  *
  * - `spark.sql.shuffle.partitions` = core count ([[Sizing.localCores]]);
  *   queries whose shuffles outgrow it run on a [[child]] sized by
  *   [[Sizing]], never by AQE coalescing alone (see `get`).
  * - `spark.sql.legacy.parquet.nanosAsLong`: the driver corpus's
  *   `events.ts` column is TIMESTAMP(NANOS) (written by pyarrow), which
  *   Spark 4 cannot map natively; we read it as nanos-since-epoch LONG and
  *   convert in [[Tables.events]].
  * - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]] and
  *   artifact isolation off: a repeated plan reuses its compiled, JIT-warm
  *   classes, in a child session and a streaming query too.
  */
object GraftSession {

  /** Conf key marking a session as a graft child and naming its posture. */
  private[graft] val ChildTagKey = "graft.internal.childTag"

  // one child per (parent, tag); weak on the parent so a stopped session's
  // children are collectable. The per-parent map is LRU-BOUNDED (round-10
  // advice): RelationalQueries folds the corpus dir into the tag, so a
  // long-lived JVM iterating corpora would otherwise grow one child per
  // (tag, corpus) forever. An evicted child keeps working for anyone still
  // holding it (it's just a session over the shared SparkContext); a
  // re-request under its tag simply builds a fresh child with the conf
  // re-applied — the tag-separation race invariant is about not SHARING
  // one mutable SQLConf across postures, which eviction never causes.
  private val MaxChildrenPerParent = 48
  private val children =
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[String, SparkSession]]()

  /** Posture-tuned child session: same SparkContext (same executors, same
    * cache/checkpoint blocks), PRIVATE SQLConf — the one consolidated
    * implementation of the pattern three operators grew independently in
    * rounds 6-7 (ConnectedComponents' star loop, StreamingEngine's latency
    * session, VectorQueries' dense session). DataFrames cross the boundary
    * via `child.createDataFrame(df.rdd, df.schema)` or by running the SQL
    * on the child directly.
    *
    * Semantics:
    *   - memoized per (parent, tag): repeated calls return the SAME child,
    *     with the requested conf RE-APPLIED each call (an earlier caller's
    *     partition sizing never leaks into the next use — the round-7
    *     large-backfill bug, where a 2-partition micro-batch posture
    *     silently served a million-file backfill);
    *   - idempotent under self-application: a session that already carries
    *     `tag` IS the requested child and is returned as-is (conf
    *     re-applied) — no grandchild chains when an operator running ON a
    *     child re-enters (the stream's processBatch runs on the latency
    *     child it would otherwise re-derive);
    *   - DISTINCT tags give distinct sessions, deliberately: two postures
    *     sharing one child's mutable SQLConf race (the round-7
    *     statsRollup-vs-micro-batch finding) — separation by tag is the
    *     fix, so callers must not share a tag across concurrent uses with
    *     different sizing. A caller that re-sizes per use takes one tag
    *     per user: each stream's latency child is tagged by its checkpoint
    *     (`StreamingEngine.latencyTag`). A caller whose sizing never varies
    *     (`CawdEngine.ingestSession`: the core count) can share one.
    *
    * Why AQE defaults OFF here: every child in this engine exists for
    * many-small-stage work (iterative star contraction, micro-batches,
    * ~60-stage sub-second vector plans, the batch dedup ingest, whose
    * small s+p ingest went from 12 jobs to 2) where AQE's per-stage
    * materialization barriers and per-job driver round-trips dominate wall
    * time (three independent round-6/7 measurements; SCALE.md). What AQE
    * would buy — skew splitting, byte-coalescing — is design-bounded in
    * those plans. Callers doing genuinely large shuffles (the backfill
    * path) pass `aqe = true`.
    */
  def child(parent: SparkSession, tag: String,
            aqe: Boolean = false,
            shufflePartitions: Option[Int] = None,
            listingThreshold: Option[Int] = None): SparkSession = {
    val s =
      if (parent.conf.getOption(ChildTagKey).contains(tag)) parent
      else children.synchronized {
        var m = children.get(parent)
        if (m == null) {
          // access-ordered so eviction drops the least-recently-USED tag
          m = new java.util.LinkedHashMap[String, SparkSession](16, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, SparkSession]): Boolean =
              size() > MaxChildrenPerParent
          }
          children.put(parent, m)
        }
        var c = m.get(tag)
        if (c == null) {
          c = parent.newSession()
          c.conf.set(ChildTagKey, tag)
          m.put(tag, c)
        }
        c
      }
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    shufflePartitions.foreach(n =>
      s.conf.set("spark.sql.shuffle.partitions", math.max(1, n).toString))
    listingThreshold.foreach(n =>
      s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
        n.toString))
    s
  }

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The engine's
    * working sets are larger: one pass of the sf0.1 `graft.Bench` suite
    * compiles 1,282 distinct classes, and under the default one perfbench
    * `orc_versions` operation recompiled 72–93 of its classes and one
    * `pack_mix` round 27–31 (SCALE.md, "Compile once, configure once").
    * An evicted class is compiled again by Janino and runs interpreted
    * until the JIT re-warms it; at this cap a repeated plan reuses its
    * classes. 4096 is ~3× the suite's pass, because the cache evicts per
    * quarter segment, not globally. The key is a STATIC conf: a JVM reads
    * it once, when its first class compiles, so it takes effect only when
    * the JVM's first session is built here; a JVM whose first session is
    * built elsewhere keeps Spark's 100 for its whole life.
    */
  val CodegenCacheEntries = 4096

  def get(appName: String = "graft"): SparkSession = {
    val cpus = Sizing.localCores
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      // Core-count shuffle partitions, deliberately NOT the AQE
      // "over-partition and coalesce" posture: measured at sf0.1, 4×cpus
      // + coalescing was 54% slower overall — AQE coalesces by BYTES
      // (64 MB advisory target), so the CPU-dense small-byte shuffles this
      // engine is full of (IVF training rounds, LSH bands, streaming
      // micro-batches) collapse to 1-2 partitions and single-thread work
      // that fixed cores-sized partitions spread across every core. The
      // same parallelism-follows-rows-not-bytes rule as Tables.spread.
      // The cost is some spill headroom on truly large shuffles at 100×
      // local scale (q07's window sort) — the right cluster-side fix is
      // sizing shuffle.partitions per job on a Sizing-sized child, not a
      // session-wide constant.
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 32 MB scan splits (default 128 MB): a CPU-dense derivation over a
      // compressed single-file corpus gets 4× the tasks — the 100× corpus
      // documents file is ~800 MB, and per-row regex/winnow passes
      // (d09/d19/d20) ran on ~6 of 32 cores, growing 12-17× per 10× data.
      // I/O-bound scans lose nothing measurable at this split size, and
      // tiny files still yield one task.
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      // InferFiltersFromGenerate rewrites every `explode(f(x))` into
      // Filter(size(f(x)) > 0 AND isnotnull(f(x))) + Generate — sensible
      // when f is cheap, pathological when f is a dense kernel: the alias
      // substitution re-evaluates f TWICE more per row, and predicate
      // pushdown then drags the kernel-bearing filter below the
      // rows-not-bytes repartition (Tables.spread) into the raw file scan,
      // whose task count is bounded by parquet ROW GROUPS, not splits —
      // measured at the 1000× ANN corpus (50 M vectors, one ~137 MB
      // single-row-group file): e02's sign-LSH bucketing collapsed to ONE
      // task evaluating the kernel 3× per row, hours of serial compute for
      // a ~40 s parallel stage. Every explode in this engine generates
      // from a computed array (LSH buckets, winnow postings, shingle
      // arrays, media frames), so the rule is net-negative here; the
      // generators themselves skip empty arrays.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Blob-aware scan batching: the vectorized parquet reader sizes
      // batches by ROW COUNT (default 4096), so a binary media column at
      // ~13 kB/row reserves ~50 MB contiguous per batch per task — 32
      // concurrent tasks OOM'd an 8 GB driver reading the 100× media
      // export. 1024 rows keeps blob batches ~13 MB while costing narrow
      // scans nothing measurable (batch overhead amortizes by ~100 rows).
      // An engine whose tables carry opaque media blobs needs row-batch
      // sizing that survives the widest row, not the average one.
      .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
      // The streaming store probe pushes its signature set into bucketed
      // scans as ≤512-value In predicates (Dedup.InPushdownChunk) so the
      // store's bloom filters + sorted-page column index can skip pages;
      // Spark only forwards an In to parquet when its size is under this
      // threshold (default 10 — above it only a min/max RANGE is pushed,
      // useless on hash-valued signatures). No other query builds large
      // literal In sets, so the session-wide raise is inert elsewhere.
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        (cawd.Dedup.InPushdownChunk + 1).toString)
      // BloomFilterAggregate silently CLAMPS its numBits argument to this
      // conf (default 2^26 bits = 8 MiB). d17 sizes its decontamination
      // bloom for 3% fpp at n items (~7.3 bits/item), so past ~9.2 M bench
      // shingles the clamp starves the filter: measured at the 1000×
      // corpus (12.3 M bench shingles, 90 M bits requested, 67.1 M
      // granted), the prefilter's survivor stream grew 70× (846 k → 59.2 M
      // rows) and the downstream exact semi-join inherited the spill —
      // most of d17's fifth-decade growth sat here (SCALE.md "Every >10×
      // row attributed"). 2^30
      // keeps the filter honest to ~147 M items (a plausible benchmark-
      // suite ceiling) while capping the broadcast at 128 MiB; the bit
      // count actually allocated is still demand-sized from n.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 30).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // Per-session artifact isolation gives every session its own executor
      // class loader, and the generated-class cache is keyed by (class
      // loader, source). A streaming query runs on a clone of its session
      // (a new session id), so every stream start compiled its executor-side
      // classes again: 2 classes per `stream_waves` wave after the first,
      // 0 with isolation off. The engine adds no session artifacts (jars,
      // class files) for isolation to separate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
