package graft.cawd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TransferStats aggregations (SURVEY.md §2.5).
  *
  * The reference aggregates per-file metric lists with sum/count and an
  * exact percentile bundle over the sorted sample list
  * (`common/TransferStats.java:49-72,129-155`), then re-aggregates all files
  * under file="general" (`TransferStats.java:38-47`). Its p50/p75 values are
  * a copy-paste of p25 (`:148-155`) — fixed here, as SURVEY.md §4 defect 2
  * prescribes.
  *
  * Spark-first shape: metric rows are plain (file, metric, value, unit)
  * tuples; the rollup is a hash aggregate with map-side combine, and the
  * percentile bundle is ONE exact built-in `percentile` over the three
  * fractions (one buffer of values per group, sorted inside the aggregate,
  * not as a global sort). The two-level rollup is expressed as
  * `rollup(file)` so Spark computes the per-file and global rows in ONE
  * pass instead of the reference's aggregate-then-reaggregate. A batch run
  * feeds [[fromStatus]] its status rows and its timing rows together, so
  * its stats are one metric aggregate under one rollup.
  */
object Stats {

  /** A1+A2+A3 in one plan: per-(file, metric) and global-(metric) summary
    * rows. The global level surfaces with file = "general", matching the
    * reference's label (`TransferStats.java:41`).
    */
  def rollup(stats: DataFrame): DataFrame = {
    val pct = col("pct")
    stats
      // rollup order (metric, file): the subtotal cell (metric, NULL) is the
      // all-files global aggregate per metric — the reference's "general" row.
      .rollup(col("metric"), col("file"))
      .agg(
        first(col("unit")).as("unit"),
        sum(col("value")).as("value"),
        count(lit(1)).as("ocurrences"), // sic — reference field name, TransferStats.java:30
        min(col("value")).as("min_v"),
        percentile(col("value"), array(lit(0.25), lit(0.5), lit(0.75))).as("pct"),
        max(col("value")).as("max_v"))
      // drop the grand-total (NULL, NULL) row; keep exactly the reference's
      // two levels: per-(file, metric) and global-(metric).
      .filter(col("metric").isNotNull)
      .withColumn("file", coalesce(col("file"), lit("general")))
      .select(col("file"), col("metric"), col("unit"), col("value"), col("ocurrences"),
        col("min_v"), round(pct(0), 6).as("p25"), round(pct(1), 6).as("p50"),
        round(pct(2), 6).as("p75"), col("max_v"))
  }

  /** A4: derive the wire/dedup metric rows from a dedup-status chunk set.
    *
    * One consistent accounting model on every variant (SURVEY.md §4 defect
    * 6 is NOT replicated):
    *   - TransferBytes      = content bytes actually sent (raw+miss+small)
    *   - DedupBytes         = content bytes saved by store hits
    *   - ExtraTransferBytes = protocol overhead: one `<type:int><sha1:20>`
    *     probe per special chunk (hit or miss) + per-file header
    *   - *Hit / *Miss       = probe counters by chunk kind; small column
    *     bypasses count as `SmallColumn` (TransferStats.java:105)
    *   - StringColumnMiss / StringColumnMissBytes = typed miss counters for
    *     string columns (`StripePlusColumnORCStreamer.java:180-184`; the
    *     Double* types are declared dead in the reference — not emitted)
    *
    * With `emitSizes` (the s+p pipeline; the reference only emits these
    * there, `StripePlusColumnORCStreamer.java:37,88,370`):
    *   - StripeSize = index+data+footer bytes, one row per stripe
    *   - FooterSize = file-footer bytes, one row per file
    *   - TotalBytes = whole file length, one row per file
    *
    * A timing side-channel row (`parentSeq == -2`, [[CawdEngine.chunkFiles]])
    * contributes ONLY its ParsingOverhead / TransferTime milliseconds, the
    * same sums as [[CawdEngine.timingStats]]; a status relation without
    * timing rows yields no timing metrics.
    */
  def fromStatus(statusDf: DataFrame, emitSizes: Boolean = false): DataFrame = {
    val probed = col("status").isin("hit", "miss", "miss_delegated")
    val sent = col("status").isin("raw", "small", "miss")
    val kind = when(col("chunkType") === ChunkType.StripeData, "Stripe")
      .when(col("chunkType") === ChunkType.Column, "Column")
      .when(col("chunkType") === ChunkType.FileFooter, "Footer")
      .otherwise("Chunk")

    // Column subchunks of delegated stripes OVERLAY their stripe's data
    // region — exclude them from FileBytes so it equals the file's length.
    val topLevel = !(col("chunkType") === ChunkType.Column && col("parentSeq") =!= -1)

    // SINGLE PASS over the status relation: each chunk row explodes into the
    // metric contributions it makes, then ONE hash aggregate (map-side
    // combined) sums them per (file, metric[, instance]). The previous shape
    // — one scan per metric family — re-executed the whole upstream dedup
    // cascade 5-6×; at a 100 TB chunk table that's 5 extra passes, and on
    // the bench it was ~70 AQE stage-jobs per c* query.
    //
    // `subkey` keeps multi-instance metrics (one StripeSize VALUE per
    // stripe, one FooterSize per footer chunk) from collapsing: it carries
    // the stripe/chunk id through the aggregate and is dropped afterwards,
    // so the rollup's percentile bundle still sees one row per instance.
    // the unit travels WITH the entry (not re-derived from the metric name
    // afterwards): vocabulary metrics whose unit is not implied by their
    // suffix — TransferTime/ParsingOverhead are Milliseconds — would
    // otherwise silently be labeled Count if ever emitted here
    val noKey = lit(null).cast("long")
    val timing = col("parentSeq") === -2
    def metricEntry(metric: Column, value: Column, subkey: Column, unit: String): Column =
      struct(metric.as("metric"), subkey.cast("long").as("subkey"),
        value.cast("double").as("value"), lit(unit).as("unit"))
    // a data entry's metric is null on a timing row, so it is dropped there
    def entry(metric: Column, value: Column, subkey: Column = noKey,
              unit: String = Metric.Count): Column =
      metricEntry(when(!timing, metric), value, subkey, unit)
    def byteEntry(metric: Column, value: Column, subkey: Column = noKey): Column =
      entry(metric, value, subkey, Metric.Bytes)

    val counterMetric =
      when(col("status") === "small" && col("chunkType") === ChunkType.Column,
        lit(Metric.SmallColumn))
        .otherwise(concat(kind,
          when(col("status") === "hit", lit("Hit"))
            .when(col("status") === "small", lit("Small"))
            .otherwise(lit("Miss"))))
    val strMiss = col("chunkType") === ChunkType.Column &&
      col("status") === "miss" && col("colType") === "string"
    val stripePart = col("chunkType").isin(ChunkType.StripeData,
        ChunkType.StripeIndex, ChunkType.StripeFooter) &&
      (col("chunkType") === ChunkType.StripeData || col("parentSeq") =!= -1)

    // always-emitted byte metrics contribute 0 when a data row doesn't
    // qualify, so every file keeps its full byte-metric vector (zeros
    // included); entries with a null metric are dropped after the explode
    val entries = Seq(
      metricEntry(when(timing, when(col("chunkType") === ChunkType.PlanStat,
        lit(Metric.ParsingOverhead)).otherwise(lit(Metric.TransferTime))),
        col("size"), noKey, Metric.Milliseconds),
      byteEntry(lit(Metric.FileBytes), when(topLevel, col("size")).otherwise(lit(0L))),
      byteEntry(lit(Metric.TransferBytes), when(sent, col("size")).otherwise(lit(0L))),
      byteEntry(lit(Metric.DedupBytes),
        when(col("status").isin("hit", "hit_linked"), col("size")).otherwise(lit(0L))),
      byteEntry(lit(Metric.ExtraTransferBytes),
        when(probed, lit(Dedup.Wire.SigProbe)).otherwise(lit(0L))),
      entry(when(probed || col("status") === "small", counterMetric), lit(1L)),
      entry(when(strMiss, lit(Metric.StringColumnMiss)), lit(1L)),
      byteEntry(when(strMiss, lit(Metric.StringColumnMissBytes)), col("size"))
    ) ++ (if (!emitSizes) Seq.empty else Seq(
      byteEntry(lit(Metric.TotalBytes), when(topLevel, col("size")).otherwise(lit(0L))),
      byteEntry(when(stripePart, lit(Metric.StripeSize)), col("size"),
        when(col("chunkType") === ChunkType.StripeData, col("seq"))
          .otherwise(col("parentSeq"))),
      byteEntry(when(col("chunkType") === ChunkType.FileFooter, lit(Metric.FooterSize)),
        col("size"), col("seq"))
    ))

    // explode then filter: a `filter(array, lambda)` higher-order function
    // is evaluated interpreted on every row
    statusDf
      .select(col("file"), explode(array(entries: _*)).as("e"))
      .filter(col("e.metric").isNotNull)
      .groupBy(col("file"), col("e.metric").as("metric"), col("e.subkey").as("subkey"))
      .agg(sum(col("e.value")).as("value"), first(col("e.unit")).as("unit"))
      .select(col("file"), col("metric"),
        // the per-file wire header joins the probe overhead after the agg —
        // it is a per-file constant, not a per-chunk contribution
        when(col("metric") === Metric.ExtraTransferBytes,
          col("value") + length(col("file")) + lit(Dedup.Wire.FileHeaderFixed))
          .otherwise(col("value")).as("value"),
        col("unit"))
  }
}
