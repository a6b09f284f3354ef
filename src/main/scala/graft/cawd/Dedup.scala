package graft.cawd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * loop into ONE pass per probe key ([[markFirstOccurrence]]):
  *
  *   - the probed rows shuffle once by their key (`signature`) and sort by
  *     arrival order inside it; `rank() == 1` marks the first occurrence —
  *     one window in one `select`, one exchange, and no aggregate joined
  *     back onto the rows;
  *   - a pre-existing ("warm") store is one more `left` join on `signature`
  *     against a pruned, broadcast hit set.
  *
  * Hierarchical stripe→column fallback (SURVEY.md §2.4 J5) is three such
  * passes over one read of the chunks ([[hierarchicalStatus]]): stripes and
  * file footers in one first-occurrence pass, in which every other row is
  * a group of its own; one pass per stripe group that applies the
  * delegation gate and hands the stripe's outcome to its linked chunks and
  * columns; and a first-occurrence pass over the columns of delegated
  * stripes, whose store — because the receiver derives column entries from
  * every stripe it receives (`StripePlusColumnORCReceiver.java:198-211`,
  * J4) — contains exactly the columns of all earlier delegated stripes.
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

  /** Working columns of [[markFirstOccurrence]]'s store probe. */
  private val IsFirstCol = "is_first"
  private val InStoreCol = "in_store"

  /** Working column of [[hierarchicalStatus]]: the outcome of a row's
    * stripe group, from pass 2 to pass 3.
    */
  private val OutcomeCol = "stripe_outcome"

  /** Appends each row's store `status`: "miss" for the first occurrence of
    * its key in strict (fileRank, ord) arrival order, "hit" for every
    * repeat; ties (identical keys at the same order key) are all first —
    * matching the reference, where all column probes of one stripe happen
    * before that stripe's inserts (`StripePlusColumnORCReceiver.java:93-211`).
    *
    * @param ordCol in-file order column (`seq` for flat chunk streams,
    *               `parentSeq` for per-stripe column probes)
    * @param store  optional warm store from [[StreamingEngine.readStore]];
    *               membership of the row's `signature` forces hit
    * @param keys   probe key columns: `signature`, or (`chunkType`,
    *               `signature`) to run several stores (the cascade's
    *               stripes and footers) in one pass
    */
  def markFirstOccurrence(chunks: DataFrame, ordCol: String,
                          store: Option[DataFrame] = None,
                          keys: Seq[Column] = Seq(col("signature"))): DataFrame = {
    val first = firstOccurrence(ordCol, keys)
    store match {
      case None => chunks.select(col("*"), first.as("status"))
      // Signature-sorted store (the StreamingEngine layout): the batch's
      // distinct signatures are pushed into the store scan, so the store
      // side is read narrow and never shuffled, and the hits broadcast back
      // onto the batch. At a bounded per-batch probe set vs an ever-growing
      // store, per-batch work stays proportional to the batch. Oversized
      // probe sets (a backfill batch) fall back to a semi join rather than
      // a driver-breaking broadcast.
      case Some(s) =>
        val marked = chunks.withColumn(IsFirstCol, first === "miss")
        val probeSigs = chunks.select(col("signature")).distinct()
        // ONE driver action per probe either way. Common (bounded) case: a
        // capped collect yields the exact probe set, pushed as In
        // predicates on `signature`, which lets the parquet reader prune by
        // the store files' sorted row-group and page statistics and their
        // signature bloom filters (see writeStorePartition) instead of
        // reading every page: the probe cost becomes ~O(probe sigs × page
        // size) plus one footer per store file. Over the cap
        // (backfill-sized probes, where a scan is the right plan anyway)
        // fall back to a count for broadcast sizing and a semi join.
        val capped = probeSigs.limit(MaxInPushdownSigs + 1).collect()
          .map(_.getAs[Array[Byte]](0))
        val probed = if (capped.length <= MaxInPushdownSigs) {
          if (capped.isEmpty) marked.withColumn(InStoreCol, lit(false))
          else {
            // The In set is the EXACT probe set (collected from a distinct
            // scan), so the filter replaces the semi join outright. Spark
            // hands parquet an In as a LEFT-LEANING or-of-eq chain whose
            // evaluators recurse once per node — a single 4096-value In
            // overflowed the 1 MB task stack (measured) — so the probe is
            // CHUNKED into ≤ [[InPushdownChunk]]-signature scans, unioned.
            // The chunks are cut from the signature list in the store
            // files' sort order (unsigned byte order, parquet's BINARY
            // order), so each chunk covers one contiguous key range and its
            // scan reads only the pages inside that range.
            val hits = capped.sorted(CawdEngine.Utf8Order)
              .grouped(InPushdownChunk)
              .map(chunk => s.filter(col("signature").isin(chunk.toSeq: _*)))
              .reduce(_ unionByName _)
              .select(col("signature")).distinct()
              .withColumn(InStoreCol, lit(true))
            // hits ≤ the probe cap (4096 sigs) by construction — broadcast
            // it so the batch side stays unshuffled (the same posture the
            // PlanAudit store-probe gate enforces); without the hint the
            // unknown-stats union picks an SMJ that shuffles the whole
            // batch per micro-batch
            marked.join(broadcast(hits), Seq("signature"), "left")
              .withColumn(InStoreCol, coalesce(col(InStoreCol), lit(false)))
          }
        } else {
          // hits ⊆ probes, so a probe set small enough to broadcast into the
          // semi join gives a hit set small enough to broadcast back onto
          // the batch. Both hints are explicit: with AQE off (the ingest
          // posture) nothing else turns the unknown-stats hit set into a
          // broadcast, and a sort-merge join would shuffle the whole batch.
          val small = probeSigs.count() <= MaxBroadcastProbeSigs
          def hint(df: DataFrame) = if (small) broadcast(df) else df
          val hits = s.join(hint(probeSigs), Seq("signature"), "left_semi")
            .select(col("signature")).distinct()
            .withColumn(InStoreCol, lit(true))
          marked.join(hint(hits), Seq("signature"), "left")
            .withColumn(InStoreCol, coalesce(col(InStoreCol), lit(false)))
        }
        probed
          .withColumn("status",
            when(col(InStoreCol) || !col(IsFirstCol), lit("hit")).otherwise(lit("miss")))
          .drop(IsFirstCol, InStoreCol)
    }
  }

  /** `miss` on the first row of its key in (fileRank, `ordCol`) order, `hit`
    * on every later row. One pass: shuffle by key, sort by arrival, rank —
    * one exchange per probe. A `min` aggregate joined back onto the rows
    * needs two exchanges and two jobs, and the cascade is bound by jobs, not
    * bytes. A hot key (zero-filled chunks are common in dedup corpora) still
    * lands in one task, but the window buffers a group in memory only up to
    * `spark.sql.windowExec.buffer.in.memory.threshold` rows and then in a
    * spillable external sorter, so its rows spill instead of sitting whole
    * on the heap.
    */
  private def firstOccurrence(ordCol: String, keys: Seq[Column]): Column =
    when(rank().over(Window.partitionBy(keys: _*)
      .orderBy(col("fileRank"), col(ordCol))) === 1, lit("miss")).otherwise(lit("hit"))

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
    // `chunks` feeds several plan branches (probe, passthrough and a store
    // probe's signature set); a caller that must chunk each file once
    // caches it, as CawdEngine.ingest does once per run or micro-batch
    val top = chunks.filter(col("parentSeq") === -1) // hierarchical subchunks not in play here
    val special = top.filter(col("chunkType").isInCollection(dedupable) &&
      col("size") > smallThreshold)
    val plain = top
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
    * Three passes in one chain, each one `select` with one window and one
    * exchange; nothing is cached, no stage runs twice and the chunk
    * relation is read once (no union of two filters of it):
    *   1. every row, windowed by (chunkType, signature) for stripes and file
    *      footers, so the two stores stay apart, and by its own (file, seq)
    *      for every other row, a group of one whose status pass 3 sets;
    *   2. one window per stripe group (file, stripe seq): the StripeData row
    *      plus its linked chunks and columns. It applies the delegation gate
    *      and hands the stripe's outcome to the rest of the group; the
    *      columns of stripes that did not delegate are filtered out;
    *   3. the columns of delegated stripes above the threshold, windowed by
    *      signature in (fileRank, parentSeq) order. Every other row passes
    *      through it in a group of its own and takes the status passes 1
    *      and 2 decided.
    *
    * Returns chunk rows annotated with `status`; column subchunks appear
    * ONLY for delegated stripes (they replace the stripe-data transfer).
    */
  def hierarchicalStatus(chunks: DataFrame,
                         smallThreshold: Long = 2L * Sha1.Size): DataFrame = {
    // every data row participates (Column subchunks AND linked index/footer
    // chunks carry parentSeq != -1); only timing side-channel rows drop out
    val top = chunks.filter(col("parentSeq") =!= -2)
    val cols = top.columns.toSeq.map(col)
    val isStripe = col("chunkType") === ChunkType.StripeData
    val isColumn = col("chunkType") === ChunkType.Column
    val isLinked = col("chunkType").isin(ChunkType.StripeIndex, ChunkType.StripeFooter) &&
      col("parentSeq") =!= -1
    val isProbe = isStripe || col("chunkType") === ChunkType.FileFooter
    // a window key part that puts every row outside `probes` in a group of
    // its own, so one window pass carries all rows and decides only probes
    def own(probes: Column): Column = when(!probes, struct(col("file"), col("seq")))

    // 1. whole-stripe and file-footer probes; only their statuses are read
    val probed = markFirstOccurrence(top, "seq",
      keys = Seq(col("chunkType"), col("signature"), own(isProbe)))

    // 2. the stripe group. A missed stripe normally delegates its bytes to
    //    per-column probes ("miss_delegated"); a stripe whose stream layout
    //    could not be parsed into columns has none and is sent whole ("miss").
    //    P4 single-column shortcut: a stripe with ≤1 parsed column also skips
    //    column matching — the one column IS the stripe data, so probing it
    //    after a stripe miss is pure overhead
    //    (`orc/net/StripePlusColumnORCStreamer.java:146,202-209`).
    //    Columns of stripes that did not delegate are dropped.
    val group = Window.partitionBy(col("file"),
      when(isColumn || isLinked, col("parentSeq")).otherwise(col("seq")))
    val stripeStatus = max(when(isStripe, col("status"))).over(group)
    val nCols = count(when(isColumn, lit(1))).over(group)
    val decided = probed
      .select(col("*"), when(stripeStatus === "miss" && nCols >= 2, lit("miss_delegated"))
        .otherwise(stripeStatus).as(OutcomeCol))
      .filter(!isColumn || col(OutcomeCol) === "miss_delegated")

    // 3. columns of delegated stripes probe the column store; the store grows
    //    with the columns of every delegated stripe (derived inserts, J4),
    //    which is exactly this set ordered by (fileRank, parentSeq) — ties
    //    within one stripe all miss. Linked index/footer chunks dedup on a
    //    stripe hit WITHOUT their own probe (the server resolves subchunks
    //    from the stripe entry, `StripePlusColumnORCChunkStore.java:25-31`)
    //    — "hit_linked" counts dedup bytes but no probe overhead or hit
    //    counter; on a miss they are sent raw.
    val toProbe = isColumn && col("size") > smallThreshold
    val outcome = col(OutcomeCol)
    decided.select(cols :+
      when(isStripe, outcome)
        .when(isLinked, when(outcome === "hit", lit("hit_linked")).otherwise(lit("raw")))
        .when(toProbe, firstOccurrence("parentSeq", Seq(col("signature"), own(toProbe))))
        .when(isColumn, lit("small"))
        .when(isProbe, col("status"))
        .otherwise(lit("raw")).as("status"): _*)
  }
}
