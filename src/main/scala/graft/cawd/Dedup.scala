package graft.cawd

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The dedup decision engine, reformulated as a declarative Spark plan.
  *
  * The reference streams files in sorted order through a stateful
  * content-addressed store: probe `sha1(chunk)`, insert on miss
  * (`dedup/ColumnarChunkStore.java:6-12`; e.g.
  * `orc/dedup/NaiveORCChunkStore.java:17-29`). Because the store only ever
  * *grows*, the sequential fold is equivalent to a single relational
  * question: "is this the FIRST occurrence of this signature in
  * (fileRank, seq) order?" — first occurrence = miss (store insert),
  * everything later = hit. That turns an inherently serial client/server
  * loop into ONE aggregation by signature:
  *
  *   - `groupBy(signature).agg(min(struct(fileRank, seq)))` benefits from
  *     map-side partial aggregation — at high dup ratios the shuffle carries
  *     roughly one row per DISTINCT signature, not per chunk (unlike a
  *     window `row_number`, which would shuffle + sort every row);
  *   - the join back on `signature` is co-partitioned with the aggregation,
  *     so AQE plans it without an extra exchange;
  *   - a pre-existing ("warm") store is one more `left` join on `signature`,
  *     broadcast when small.
  *
  * Hierarchical stripe→column fallback (SURVEY.md §2.4 J5) is the same
  * construction applied twice: stripes first; the columns of MISSED stripes
  * probe a column store that — because the receiver derives column entries
  * from every stripe it receives (`StripePlusColumnORCReceiver.java:198-211`,
  * J4) — contains exactly the columns of all earlier first-occurrence
  * stripes.
  */
object Dedup {

  /** Wire-accounting constants (SURVEY.md §2.8 message formats). One
    * consistent model on both variants — the reference's per-variant
    * inconsistencies (§4 defect 6) are documented, not replicated.
    */
  object Wire {
    val SigProbe: Long = 4 + Sha1.Size // <type:int><sha1:20> per special chunk
    // per-file header <nameLen:int><name><fileLen:long>: 12 fixed bytes +
    // the name; [[Stats.fromStatus]] adds length(file) to this (the oracle
    // SQL mirrors the same 12, CawdOracleSql.statsRollupSql)
    val FileHeaderFixed: Long = 4 + 8
  }

  /** Working columns of [[markFirstOccurrence]]. */
  private val IsFirstCol = "is_first"
  private val InStoreCol = "in_store"

  /** Appends each row's store `status`: "miss" for the first occurrence of
    * its signature in strict (fileRank, ord) arrival order, "hit" for every
    * repeat; ties (identical signatures at the same order key) are all
    * first — matching the reference, where all column probes of one stripe
    * happen before that stripe's inserts
    * (`StripePlusColumnORCReceiver.java:93-211`).
    *
    * @param ordCol in-file order column (`seq` for flat chunk streams,
    *               `parentSeq` for per-stripe column probes)
    * @param store  optional warm store from [[StreamingEngine.readStore]];
    *               membership forces hit
    */
  def markFirstOccurrence(chunks: DataFrame, ordCol: String,
                          store: Option[DataFrame] = None): DataFrame = {
    val key = struct(col("fileRank"), col(ordCol))
    // aggregate + join-back rather than min-over-window: a window partitioned
    // by signature buffers EVERY row of a hot signature (zero-filled chunks
    // are common in dedup corpora) in one task — a spilling straggler at
    // scale. The agg does map-side partial min (the shuffle carries ~one row
    // per DISTINCT signature at high dup ratios), the join back is
    // co-partitioned with the agg on `signature` (no extra exchange under
    // AQE), and a skewed signature in the join is AQE-splittable.
    val firsts = chunks.groupBy(col("signature"))
      .agg(min(key).as("__first_key"))
    val marked = chunks.join(firsts, Seq("signature"))
      .withColumn(IsFirstCol, key <=> col("__first_key"))
      .drop("__first_key")
    val probed = store match {
      // Signature-bucketed store (the StreamingEngine layout): the batch's
      // distinct signatures (a) prune the store scan to only the sbucket
      // partitions they can live in — partition pruning against a
      // 10⁹-signature store reads just the touched buckets — and (b)
      // broadcast into the semi-join when small, so the store side is
      // scanned NARROW and never shuffled. At a bounded per-batch probe set
      // vs an ever-growing store, that flips the old plan (shuffle the
      // whole store per batch) into per-batch work proportional to the
      // batch. Oversized probe sets (a backfill batch) fall back to the
      // shuffled join rather than a driver-breaking broadcast.
      case Some(s) =>
        val probeSigs = chunks.select(col("signature")).distinct()
        // ONE driver action per probe either way. Common (bounded) case: a
        // capped collect yields the exact probe set AND its bucket set —
        // bucket pruning plus an In predicate on `signature` itself, which
        // is what lets the parquet reader engage the store's signature
        // bloom filters and sorted-page column index (see
        // writeStorePartition's clustered layout) instead of scanning
        // every page of every touched bucket: the wide-probe cost becomes
        // ~O(probe sigs × page size), store-size-independent. Over the cap
        // (backfill-sized probes, where a scan is the right plan anyway)
        // fall back to the aggregate: bucket set + broadcast sizing from
        // one action, semi join against the pruned scan.
        val capped = probeSigs.select(col("signature"),
          StreamingEngine.sigBucket(col("signature")).as("__b"))
          .limit(MaxInPushdownSigs + 1).collect()
        if (capped.length <= MaxInPushdownSigs) {
          if (capped.isEmpty) marked.withColumn(InStoreCol, lit(false))
          else {
            // The In set is the EXACT probe set (collected from a distinct
            // scan), so the filter replaces the semi join outright. Spark
            // hands parquet an In as a LEFT-LEANING or-of-eq chain whose
            // evaluators recurse once per node — a single 4096-value In
            // overflowed the 1 MB task stack (measured) — so the probe is
            // CHUNKED: pack WHOLE buckets into ≤[[InPushdownChunk]]-sig
            // scans, each pruned to its own chunk's buckets, union the
            // results. Packing whole buckets (not just bucket-sorting —
            // round-10 advice: a sorted slice could still straddle a
            // bucket across two chunks, scanning that bucket's files
            // twice) makes the chunks' bucket sets DISJOINT, so the union
            // reads the same files ONCE each — same total I/O as one big
            // filter, ~500 stack frames per scan instead of ~10 000. The
            // one exception: a single bucket whose own sig count exceeds
            // the chunk cap (needs ~32× skew over the cap/256 expected
            // fill) is split alone and its files scan once per slice —
            // the unavoidable cost of the stack-depth bound.
            val packed = {
              val buf = scala.collection.mutable.ArrayBuffer
                .empty[Array[org.apache.spark.sql.Row]]
              val cur = scala.collection.mutable.ArrayBuffer
                .empty[org.apache.spark.sql.Row]
              capped.groupBy(_.getInt(1)).toSeq.sortBy(_._1).foreach {
                case (_, rows) =>
                  if (rows.length >= InPushdownChunk) {
                    if (cur.nonEmpty) { buf += cur.toArray; cur.clear() }
                    rows.grouped(InPushdownChunk).foreach(g => buf += g)
                  } else {
                    if (cur.length + rows.length > InPushdownChunk) {
                      buf += cur.toArray; cur.clear()
                    }
                    cur ++= rows
                  }
              }
              if (cur.nonEmpty) buf += cur.toArray
              buf.toSeq
            }
            val hits = packed.iterator.map { chunk =>
              s.filter(
                col(StreamingEngine.SigBucketCol)
                  .isin(chunk.map(_.getInt(1)).distinct.toSeq: _*) &&
                col("signature").isin(chunk.map(_.get(0)).toSeq: _*))
            }.reduce(_ unionByName _)
              .select(col("signature")).distinct()
              .withColumn(InStoreCol, lit(true))
            // hits ≤ the probe cap (4096 sigs) by construction — broadcast
            // it so the batch side stays unshuffled (the same posture the
            // PlanAudit store-probe gate enforces on the semi-join path;
            // without the hint the unknown-stats union picks an SMJ that
            // shuffles the whole batch per micro-batch)
            marked.join(broadcast(hits), Seq("signature"), "left")
              .withColumn(InStoreCol, coalesce(col(InStoreCol), lit(false)))
          }
        } else {
          val probeMeta = probeSigs.agg(
            collect_set(StreamingEngine.sigBucket(col("signature"))).as("b"),
            count(lit(1)).as("n")).head()
          val buckets = probeMeta.getSeq[Int](0)
          val pruned = s.filter(col(StreamingEngine.SigBucketCol).isin(buckets: _*))
          val probeSide =
            if (probeMeta.getLong(1) <= MaxBroadcastProbeSigs) broadcast(probeSigs)
            else probeSigs
          val hits = pruned.join(probeSide, Seq("signature"), "left_semi")
            .select(col("signature")).distinct()
            .withColumn(InStoreCol, lit(true))
          marked.join(hits, Seq("signature"), "left")
            .withColumn(InStoreCol, coalesce(col(InStoreCol), lit(false)))
        }
      case None => marked.withColumn(InStoreCol, lit(false))
    }
    probed
      .withColumn("status",
        when(col(InStoreCol) || !col(IsFirstCol), lit("hit")).otherwise(lit("miss")))
      .drop(IsFirstCol, InStoreCol)
  }

  /** Probe sets up to this many distinct signatures broadcast into the
    * store semi-join (~30 MB of 20 B signatures); larger batches (backfill)
    * fall back to a shuffled join.
    */
  val MaxBroadcastProbeSigs: Long = 1L << 20

  /** Probe sets up to this size are collected driver-side and pushed into
    * the store scan as In predicates (≤ 80 KB of signatures on the
    * driver); larger probes (backfills) keep the scan+semi-join plan.
    */
  val MaxInPushdownSigs: Int = 4096

  /** Per-scan In size: Spark expands an In into a left-leaning or-of-eq
    * parquet predicate whose bloom-filter / column-index evaluators
    * recurse once per value — 4096 in one scan overflowed the default
    * 1 MB task stack, 512 keeps ~500 recursion frames. The session conf
    * `spark.sql.parquet.pushdown.inFilterThreshold` must stay above THIS
    * (not [[MaxInPushdownSigs]]) for the pushdown to reach the reader.
    */
  val InPushdownChunk: Int = 512

  /** Flat (non-hierarchical) dedup: naive ORC, column-based ORC, parquet.
    *
    * Returns the chunk set annotated with `status ∈ {raw, small, hit, miss}`:
    *   - `raw`: chunk type not dedup-eligible → always transferred;
    *   - `small`: eligible type but ≤ threshold → bypasses dedup
    *     (`orc/net/ColumnBasedORCStreamer.java:109,125`, P3);
    *   - `hit`: signature already in the (warm or growing) store;
    *   - `miss`: first occurrence → transferred + inserted.
    */
  def flatStatus(chunks: DataFrame, dedupable: Set[String],
                 smallThreshold: Long = 0L,
                 store: Option[DataFrame] = None): DataFrame = {
    // the chunk set feeds multiple plan branches (probe + passthrough) and
    // the probe joins back on itself — cache to chunk each file exactly
    // once. An already-cached input is reused as-is so a caller that
    // manages its own cache lifecycle (CawdEngine.ingest, once per CLI run
    // or micro-batch) releases it and leaks no relation per run.
    val cached =
      if (chunks.storageLevel != org.apache.spark.storage.StorageLevel.NONE) chunks
      else chunks.cache()
    val special = cached
      .filter(col("parentSeq") === -1) // hierarchical subchunks not in play here
      .filter(col("chunkType").isInCollection(dedupable) &&
        col("size") > smallThreshold)
    val plain = cached.filter(col("parentSeq") === -1)
      .filter(!(col("chunkType").isInCollection(dedupable) &&
        col("size") > smallThreshold))
      .withColumn("status",
        when(col("chunkType").isInCollection(dedupable), lit("small"))
          .otherwise(lit("raw")))

    markFirstOccurrence(special, "seq", store).unionByName(plain)
  }

  /** Hierarchical stripe→column cascade (s+p variant, J5):
    * whole-stripe probe first; only the columns of missed stripes probe the
    * column store; tiny columns bypass (≤ 2×SHA1 = 40 B,
    * `orc/net/StripePlusColumnORCStreamer.java:154`). File footers probe
    * their own store. Stripe index/footer chunks inherit their stripe's
    * outcome via the `parentSeq` link (J3): on stripe hit they are deduped,
    * on stripe miss they are sent raw.
    *
    * Returns chunk rows annotated with `status`; column subchunks appear
    * ONLY for missed stripes (they replace the stripe-data transfer).
    * Caches two of its stages; [[CawdEngine.dedupStats]] releases them with
    * the rest of its run.
    */
  def hierarchicalStatus(chunks: DataFrame,
                         smallThreshold: Long = 2L * Sha1.Size): DataFrame = {
    // every data row participates (Column subchunks AND linked index/footer
    // chunks carry parentSeq != -1); only timing side-channel rows drop out
    val top = chunks
      .filter(col("parentSeq") =!= -2)
      .cache() // referenced by every cascade stage below

    // 1. whole-stripe probe. A missed stripe normally delegates its bytes to
    //    per-column probes ("miss_delegated"); a stripe whose stream layout
    //    could not be parsed into columns has none and is sent whole ("miss").
    //    P4 single-column shortcut: a stripe with ≤1 parsed column also skips
    //    column matching — the one column IS the stripe data, so probing it
    //    after a stripe miss is pure overhead
    //    (`orc/net/StripePlusColumnORCStreamer.java:146,202-209`).
    val stripes = top.filter(col("chunkType") === ChunkType.StripeData)
    val stripesWithCols = top.filter(col("chunkType") === ChunkType.Column)
      .groupBy(col("file").as("c_file"), col("parentSeq").as("c_parent"))
      .agg(count(lit(1)).as("__n_cols"))
      .filter(col("__n_cols") >= 2)
      .drop("__n_cols")
    val stripeStatus = markFirstOccurrence(stripes, "seq")
      .join(stripesWithCols,
        col("file") === col("c_file") && col("seq") === col("c_parent"), "left")
      .withColumn("status",
        when(col("status") === "miss" && col("c_file").isNotNull,
          lit("miss_delegated")).otherwise(col("status")))
      .drop("c_file", "c_parent")
      .cache() // reused by linked-chunk + column-cascade joins and the union

    val stripeOutcome = stripeStatus.select(
      col("file").as("s_file"), col("seq").as("s_seq"), col("status").as("s_status"))

    // 2. linked index/footer chunks follow their stripe's outcome (J3): on a
    //    stripe hit they dedup WITHOUT their own probe (the server resolves
    //    subchunks from the stripe entry, `StripePlusColumnORCChunkStore
    //    .java:25-31`) — status "hit_linked" counts dedup bytes but no
    //    probe overhead or hit counter; on a miss they are sent raw.
    val linked = top
      .filter(col("chunkType").isin(ChunkType.StripeIndex, ChunkType.StripeFooter) &&
        col("parentSeq") =!= -1)
      .join(stripeOutcome,
        col("file") === col("s_file") && col("parentSeq") === col("s_seq"), "left")
      .withColumn("status",
        when(col("s_status") === "hit", lit("hit_linked")).otherwise(lit("raw")))
      .drop("s_file", "s_seq", "s_status")

    // 3. columns of MISSED stripes probe the column store; the store grows
    //    with the columns of every first-occurrence stripe (derived inserts,
    //    J4), which is exactly this filtered set ordered by (fileRank,
    //    parentSeq) — ties within one stripe all miss.
    val columnsOfMissed = top.filter(col("chunkType") === ChunkType.Column)
      .join(stripeOutcome,
        col("file") === col("s_file") && col("parentSeq") === col("s_seq"))
      .filter(col("s_status") === "miss_delegated")
      .drop("s_file", "s_seq", "s_status")
    val bigCols = columnsOfMissed.filter(col("size") > smallThreshold)
    val smallCols = columnsOfMissed.filter(col("size") <= smallThreshold)
      .withColumn("status", lit("small"))
    val colStatus = markFirstOccurrence(bigCols, "parentSeq")

    // 4. file footers probe their own store
    val footerStatus = markFirstOccurrence(
      top.filter(col("chunkType") === ChunkType.FileFooter), "seq")

    // 5. everything else is raw
    val raw = top.filter(
      !col("chunkType").isin(ChunkType.StripeData, ChunkType.Column,
        ChunkType.FileFooter) &&
        !(col("chunkType").isin(ChunkType.StripeIndex, ChunkType.StripeFooter) &&
          col("parentSeq") =!= -1))
      .withColumn("status", lit("raw"))

    stripeStatus
      .unionByName(linked)
      .unionByName(colStatus)
      .unionByName(smallCols)
      .unionByName(footerStatus)
      .unionByName(raw)
  }
}
