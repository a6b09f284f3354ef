package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Relational / aggregation query pack.
  *
  * Per-job shuffle sizing: [[sizedForInput]] below runs a query on a
  * [[graft.GraftSession.child]] whose `spark.sql.shuffle.partitions`
  * follows the compressed bytes of the table feeding its dominant
  * exchange (32 MB per partition — the same budget as the scan splits),
  * floored at the core count. GraftSession pins a cores-sized constant
  * session-wide because AQE's byte-targeted coalescing collapses this
  * engine's CPU-dense small-byte shuffles; queries whose shuffles are
  * genuinely BIG (q08's near-input-cardinality pair aggregate) are the
  * other side of that trade and size themselves here.
  *
  * Mirrors the reference's dataflow-operator semantics (SURVEY.md §2) on the
  * driver corpus: per-group metric rollups (`common/TransferStats.java:49-72`,
  * A1), two-level global rollups (`TransferStats.java:38-47`, A2), exact
  * percentile bundles (`TransferStats.java:129-155`, A3 — with the reference's
  * p50/p75 copy-paste bug FIXED), signature-store probe semantics as semi/anti
  * joins (`dedup/ColumnarChunkStore.java:6-12`, J1), distinct-by-key (A5), and
  * ordered top-k (O1-O3).
  *
  * Determinism contract (the driver hash-compares against a DuckDB oracle):
  * every aggregated money/measure column is summed as DECIMAL (exact, order-
  * independent); every ratio is computed from the exact decimal via one
  * double division, then rounded. No output bit depends on partition/merge
  * order.
  *
  * Output type discipline: result columns are only STRING, BIGINT, or
  * DOUBLE. DECIMAL outputs render differently across engine→client paths
  * (DuckDB→pandas widens DECIMAL to float64 and BIGINT sums to HUGEINT,
  * while parquet DECIMAL surfaces as exact Decimal objects), so the exact
  * decimal sum is cast to DOUBLE *once* at the end — both engines perform
  * the identical correctly-rounded decimal→double conversion. Dates and
  * timestamps are emitted as formatted strings / epoch integers for the
  * same reason.
  */
object RelationalQueries {

  /** Child session with shuffle partitions sized from the given table's
    * compressed bytes at `bytesPerPartition` (default 32 MB; min: core
    * count). AQE stays ON: the estimate is deliberately coarse (compressed
    * input vs wider shuffle rows), and coalescing/skew-split corrects it at
    * runtime — these are exactly the big-shuffle plans AQE is good at,
    * unlike the small-byte CPU-dense plans the session-wide constant
    * protects. Callers whose plans EXPLODE the input (shingle/gram streams
    * at ~30× the compressed text bytes) pass a smaller budget so the
    * partition count tracks the exploded shuffle volume, not the file size.
    */
  private[graft] def sizedForInput(s: SparkSession, tag: String,
                                   d: String, table: String,
                                   bytesPerPartition: Long = 32L * 1024 * 1024): SparkSession = {
    val bytes = graft.Tables.tableBytes(s, d, table).getOrElse(0L)
    val parts = math.max(s.sparkContext.defaultParallelism.toLong,
      bytes / bytesPerPartition).toInt
    // corpus dir folded into the tag: children memoize per tag and carry a
    // MUTABLE SQLConf, so two concurrent runs over different corpora must
    // not share one child and race its shuffle sizing (round-8 advice)
    graft.GraftSession.child(s, s"$tag:$d", aqe = true,
      shufflePartitions = Some(parts))
  }

  private def dec(c: Column, t: String = "decimal(12,2)"): Column = c.cast(t)

  /** Whether `table`'s compressed bytes fit the broadcast budget for the
    * q04/q07 dimension-side broadcast (default 512 MB compressed ≈ a
    * few-hundred-MB built hash relation over the two projected columns —
    * guide §3.1's "a few hundred MB is usually fine", far under the 8 GB /
    * 512 M-row broadcast cap). At the fifth decade customer.parquet is
    * 78 MB (~1.5 M rows → ~60 MB built); the guard trips roughly two
    * decades later, where the right shape reverts to the shuffle join of
    * per-customer partials. Overridable per deployment via
    * -Dgraft.dimBroadcastMaxBytes.
    */
  private def dimBroadcastable(s: SparkSession, d: String, table: String): Boolean = {
    val max = java.lang.Long.getLong("graft.dimBroadcastMaxBytes",
      512L * 1024 * 1024)
    graft.Tables.tableBytes(s, d, table).exists(_ <= max)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: per-group metric rollup (sum/avg/count), filter pushed to scan.
    "q01_pricing_summary" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - dec(col("l_discount"), "decimal(4,2)")))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(4,2)") - dec(col("l_discount"), "decimal(4,2)")) *
            (lit(1).cast("decimal(4,2)") + dec(col("l_tax"), "decimal(4,2)")))
            .cast("double").as("sum_charge"),
          round(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 6).as("avg_qty"),
          round(sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)), 6).as("avg_price"),
          count(lit(1)).as("count_order"))
    }),

    // A2: two-level rollup (per-group + global), like globalStats' re-aggregation.
    // Round 17 (SCALE.md "Round 17: the r16 probe program", fifth decade):
    // Catalyst plans rollup()
    // as Expand — every lineitem row TRIPLED before the hash aggregate
    // (one copy per grouping set). The base (flag, status) aggregate has
    // ~10 groups, so the two derived levels re-aggregate 10 tiny rows
    // instead of expanding 600 M wide ones (guide §2.3
    // aggregate-before-you-shuffle applied to the Expand multiplier).
    // Measured warm legs 41.9/35.7 s shipped vs 13.7/29.3 s rewritten
    // (1.4-2.6× at matched windows); value-identical (exceptAll 0 rows
    // both ways — count/sum(decimal) are exact and associative, so
    // re-aggregating partials equals aggregating rows, and the level
    // rows' NULL markers match rollup's own output shape).
    "q02_global_rollup" -> ((s, d) => {
      val base = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).as("sq")) // exact decimal partials
      val lvl1 = base.groupBy(col("l_returnflag"))
        .agg(sum(col("n_items")).as("n_items"), sum(col("sq")).as("sq"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      val lvl0 = base
        .agg(sum(col("n_items")).as("n_items"), sum(col("sq")).as("sq"))
        .withColumn("l_returnflag", lit(null).cast("string"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      base.unionByName(lvl1.select(base.columns.map(col).toSeq: _*))
        .unionByName(lvl0.select(base.columns.map(col).toSeq: _*))
        .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
          col("sq").cast("double").as("sum_qty"))
    }),

    // A3: exact percentile bundle min/p25/p50/p75/max per metric type
    // (reference emits these per TransferStats metric; p50/p75 bug fixed).
    "q03_percentiles" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min(col("value")).as("min_v"),
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.50)"), 6).as("p50"),
          round(expr("percentile(value, 0.75)"), 6).as("p75"),
          max(col("value")).as("max_v"))
    }),

    // Multi-way join + agg; dims broadcast (nation/customer small at any SF).
    "q04_revenue_by_nation" -> ((s0, d) => {
      // the l⋈o shuffle carries every lineitem row; on the parent's fixed
      // cores-sized partition count it spills past ~10⁸ rows (isolated
      // 1000×: 107 s with TaskMemoryManager page-allocation failures, a
      // 10.4× growth on 10× data) — size the shuffle from lineitem's
      // bytes like q08's big agg (the per-job sizing the GraftSession
      // shuffle-partitions comment prescribes)
      val s = sizedForInput(s0, "q04-bigjoin", d, "lineitem")
      val l = lineitem(s, d); val o = orders(s, d)
      val c = customer(s, d); val n = nation(s, d)
      val rev = sum(dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(4,2)") - dec(col("l_discount"), "decimal(4,2)")))
      if (dimBroadcastable(s, d, "customer")) {
        // Round 17 (SCALE.md "Round 17: the r16 probe program", fifth
        // decade, warm paired legs):
        // customer projected to (c_custkey, n_name) broadcasts into the
        // l⋈o output stage and the aggregate regroups by n_name directly —
        // map-side partials collapse to 25 rows/partition and the custkey
        // exchange tier (~|customer| partial rows, plus its two SMJ sort
        // legs) disappears (guide §2.4/§3.1). SHUFFLE_HASH on l⋈o drops
        // both big-side sorts too (§3.1: build = orders per partition is
        // a few MB under sizedForInput). Measured 160.8/109.2 s shipped
        // vs 86.8 s — 1.3-1.8× at matched windows; value-identical
        // (exceptAll 0 rows both ways; sum(decimal) is exact and
        // associative, so regrouping by n_name instead of
        // custkey-then-name cannot change any output cell).
        val cn = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        l.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
          .groupBy(col("n_name"))
          .agg(rev.cast("double").as("revenue"), count(lit(1)).as("n_rows"))
      } else {
      // Beyond the broadcast budget: partial-aggregate by o_custkey
      // BETWEEN the two big joins — sum is associative, so revenue can be
      // reduced to one row per customer before the customer join.
      // Catalyst does not push aggregates through joins itself, and the
      // difference is a whole shuffle tier: the custkey exchange carries
      // ~|customer| partial rows instead of every lineitem row (600 M ->
      // <=15 M at the fifth decade). Exact-decimal partial sums keep the
      // oracle hash identical.
      //
      // MEASURED NO-WIN (round 14, SCALE.md "q04's one untried idea
      // measured", fifth decade):
      // applying the same trick one join earlier — partial-aggregate by
      // l_orderkey BEFORE this join — compresses the orderkey exchange
      // 4.07x (600 M -> 147.2 M rows, lineitem is orderkey-clustered) but
      // LOSES overall: the per-order aggregation pass alone costs 44.9 s
      // (hash-agg over 600 M rows into 147 M groups, partial + final),
      // more than the exchange reduction saves (bare join 46.5 -> 64.4 s,
      // full query 104.8 -> 118.5 s, same session, cache-favoring order).
      // The orderkey exchange IS the join's floor here; group count ~N/4
      // is too high for an extra aggregation tier to pay. Revisit only if
      // the corpus shape changes to many lineitems per order (>~16x).
      val perCust = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(rev.as("rev_part"), count(lit(1)).as("n_part"))
      perCust
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("rev_part")).cast("double").as("revenue"),
          sum(col("n_part")).as("n_rows"))
      }
    }),

    // J1 hit-path: store probe that finds the signature == left-semi join.
    "q05_semi_join" -> ((s, d) => {
      val c = customer(s, d)
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // J1 miss-path / insert-on-miss input: left-anti join (chunks NOT in store).
    "q06_anti_join" -> ((s, d) => {
      val c = customer(s, d)
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"))
    }),

    // O: ordered top-k per group via window (deterministic tie-break on key).
    "q07_topk_window" -> ((s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      // Round 17 (SCALE.md "Round 17: the r16 probe program", fifth
      // decade, warm paired legs):
      // customer projected to (c_custkey, c_mktsegment) broadcasts into
      // the orders scan stage, so the o⋈c custkey exchange and both SMJ
      // sorts disappear and the partial WindowGroupLimit runs directly on
      // the join's output — the mktsegment exchange then carries only
      // per-partition top-3 rows (guide §2.4/§3.1). Measured 28.8/35.3 s
      // shipped vs 15.9 s (1.8-2.2×); value-identical (exceptAll 0 rows).
      // Same broadcast budget guard as q04; beyond it, the shuffle join.
      val cSide =
        if (dimBroadcastable(s, d, "customer"))
          broadcast(c.select(col("c_custkey"), col("c_mktsegment")))
        else c
      o.join(cSide, col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"), col("o_totalprice"))
    }),

    // A5: distinct-by-key (store keyed by signature stores each chunk once).
    "q08_distinct_parts" -> ((s, d) => {
      // Two-level distinct, NOT countDistinct: mixing a distinct agg with
      // count(*) makes Catalyst plan an Expand (every input row doubled,
      // then hash-aggregated on (suppkey, partkey, gid) and exchanged BY
      // SUPPKEY — a hot supplier's whole distinct set lands in one task's
      // hash map; at the 100x corpus that was a 32-65 s heap-pressure swing
      // on an 8 GB JVM). The explicit form collapses to distinct pairs
      // with map-side partial combine behind a UNIFORM (suppkey, partkey)
      // exchange — no Expand, no per-key distinct set in memory — and the
      // second shuffle carries one row per distinct pair.
      //
      // Shuffle sizing: the (suppkey, partkey) pair exchange carries ~one
      // row per distinct pair — near the input row count on this corpus —
      // so the session-wide cores-sized partition constant under-partitions
      // it at 1000× (600 M pairs / 32 ≈ 450 MB hash-agg per task: spill).
      // This is the per-job sizing seam GraftSession documents as the
      // right fix: partitions follow the INPUT BYTES of the table feeding
      // the shuffle, AQE stays on to coalesce if the estimate overshoots.
      val s2 = sizedForInput(s, "q08-bigagg", d, "lineitem")
      lineitem(s2, d)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(count(lit(1)).as("__pair_n"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_parts"), sum(col("__pair_n")).as("n_items"))
    }),

    // Time-dimension rollup (month grain).
    "q09_orders_by_month" -> ((s, d) => {
      orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
    }),

    // Window share-of-group over exact decimal partition sums.
    "q10_brand_share" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
      part(s, d)
        .withColumn("brand_total_dec", sum(dec(col("p_retailprice"))).over(w))
        .withColumn("share",
          round(dec(col("p_retailprice")).cast("double") / col("brand_total_dec").cast("double"), 6))
        .select(col("p_partkey"), col("p_brand"),
          col("brand_total_dec").cast("double").as("brand_total"), col("share"))
    }),

    // Streaming-shaped batch query: 5-minute epoch-aligned buckets over events
    // (the streaming variant computes the identical result incrementally).
    "q11_event_buckets" -> ((s, d) => {
      events(s, d)
        .groupBy(
          (floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"), "decimal(18,6)")).cast("double").as("sum_value"))
    }),

    // Gap-based sessionization: a >30-min silence starts a new session for
    // the user. lag + conditional running sum — one shuffle on user_id;
    // session arithmetic stays in exact epoch MICROS (longs), so both
    // engines bucket identically.
    "q12_sessionization" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events")
      s.sql(
        """WITH e AS (
          |  SELECT user_id, unix_micros(ts) AS us FROM events),
          |marked AS (
          |  SELECT user_id, us,
          |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
          |           > 1800000000 OR
          |         lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |sessions AS (
          |  SELECT user_id, us,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
          |      ROWS UNBOUNDED PRECEDING) AS session_no
          |  FROM marked)
          |SELECT user_id, session_no, count(*) AS n_events,
          |  min(us) AS start_us, max(us) - min(us) AS duration_us
          |FROM sessions GROUP BY user_id, session_no""".stripMargin)
    }),

    // Semi-structured props extraction: pull the numeric payload out of the
    // JSON props string with a regexp (dialect-neutral) and roll it up —
    // the event-enrichment shape where the extraction must stay inside
    // codegen rather than a per-row UDF.
    "q13_props_extract" -> ((s, d) => {
      events(s, d)
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
    }),

    // As-of join (the time-series operator Spark has no built-in for):
    // each click matched to the same user's most recent view at-or-before
    // it. Implemented WITHOUT a join: union both sides, one window pass
    // carrying the last view forward — a single shuffle on user_id, linear
    // in events, immune to the row-explosion a range join risks. Ties are
    // deterministic: views collapse to one per (user, us) up front (max
    // event_id), and at equal us the view sorts before the click (kind 0<1)
    // so a same-instant view is visible. DuckDB verifies with its native
    // ASOF LEFT JOIN — an independent implementation of the semantics.
    "q14_asof_join" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events")
      s.sql(
        """WITH v AS (
          |  SELECT user_id, unix_micros(ts) AS us, max(event_id) AS id
          |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          |c AS (
          |  SELECT user_id, unix_micros(ts) AS us, event_id AS id
          |  FROM events WHERE event_type = 'click'),
          |merged AS (
          |  SELECT user_id, us, 0 AS kind, id FROM v
          |  UNION ALL
          |  SELECT user_id, us, 1 AS kind, id FROM c),
          |carried AS (
          |  SELECT user_id, us, kind, id,
          |    last_value(CASE WHEN kind = 0 THEN id END, true)
          |      OVER (PARTITION BY user_id ORDER BY us, kind, id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
          |    last_value(CASE WHEN kind = 0 THEN us END, true)
          |      OVER (PARTITION BY user_id ORDER BY us, kind, id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_us
          |  FROM merged)
          |SELECT id AS click_id, user_id, view_id, us - view_us AS lag_us
          |FROM carried WHERE kind = 1""".stripMargin)
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_global_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q03_percentiles" ->
      """SELECT event_type, count(*) AS n, min(value) AS min_v,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.50), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75,
        |  max(value) AS max_v
        |FROM events GROUP BY event_type""".stripMargin,

    "q04_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    "q07_topk_window" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3""".stripMargin,

    "q08_distinct_parts" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,

    "q09_orders_by_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q10_brand_share" ->
      """SELECT p_partkey, p_brand,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) OVER (PARTITION BY p_brand) AS DOUBLE) AS brand_total,
        |  round(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) /
        |        CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) OVER (PARTITION BY p_brand) AS DOUBLE), 6) AS share
        |FROM part""".stripMargin,

    "q11_event_buckets" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q12_sessionization" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |marked AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           > 1800000000 OR
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM marked)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(us) AS start_us, max(us) - min(us) AS duration_us
        |FROM sessions GROUP BY user_id, session_no""".stripMargin,

    "q13_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)), 6) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN — an independent implementation of the
    // q14 semantics (the Spark side is a union + carry-forward window).
    "q14_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS us, max(event_id) AS id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id AS id
        |  FROM events WHERE event_type = 'click')
        |SELECT c.id AS click_id, c.user_id, v.id AS view_id,
        |  c.us - v.us AS lag_us
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.us >= v.us""".stripMargin
  )
}
