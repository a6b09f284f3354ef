package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Min-label connected components over an undirected edge list — the
  * clustering step behind near-dup dedup (d10): every node gets the
  * MINIMUM doc_id of its component as its label.
  *
  * Two physical strategies behind one contract, chosen at runtime from the
  * measured edge count (the same shape as AQE's size-based join strategy
  * switch):
  *
  *  - **Driver union-find** below [[DriverMaxEdges]]: the near-dup
  *    subgraph of an already-mostly-unique corpus is tiny relative to the
  *    corpus (hundreds of edges at test SFs; the corpus-sized majority of
  *    singletons never enters), and a bounded `collect` + path-compressed
  *    union-find resolves it in microseconds where a distributed loop pays
  *    several scheduler round-trips per iteration. The bound keeps the
  *    collect ≤ ~16 MB of longs — the same "bounded metadata" budget as a
  *    broadcast-join build side.
  *  - **Large-star / small-star alternation** (Kiveris et al. 2014,
  *    "Connected Components in MapReduce and Beyond") above the bound:
  *    each round rewires every node toward its neighborhood minimum,
  *    halving component heights — O(log n) rounds on ANY graph shape,
  *    where plain min-label propagation needs rounds ≈ component DIAMETER
  *    (a chain of borderline near-dups pays one Spark job per hop).
  *
  * Both paths are value-identical (a property spec cross-checks the star
  * loop against union-find on random graphs) and the d10 oracle checks
  * whichever path ran end-to-end.
  */
object ConnectedComponents {

  /** Above this many distinct edges the distributed star loop runs;
    * below it the subgraph collects to a driver union-find. 2²⁰ edges ≈
    * 16 MB of id pairs — broadcast-sized, never corpus-sized.
    */
  val DriverMaxEdges: Long = 1L << 20

  /** Labels for every node that appears in `pairs` (columns `ida`, `idb`):
    * one `(doc_id, label)` row per distinct endpoint, `label` = component
    * minimum. Nodes absent from `pairs` (singletons) are the caller's
    * business — they never pay for the loop.
    */
  def minLabels(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // canonical directed form big→small: one row per undirected edge
    val edges = pairs
      .select(greatest(col("ida"), col("idb")).as("src"),
        least(col("ida"), col("idb")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val n = edges.count()
    if (n == 0) s.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0L).as("label"))
      .limit(0)
    else if (n <= DriverMaxEdges) driverUnionFind(s, edges)
    else starLabels(s, edges, n)
  }

  /** Path-compressed union-find with min-id roots (attach larger root
    * under smaller ⇒ root == component minimum). Used by the driver path
    * over the whole subgraph and by [[preContract]] per partition.
    */
  private final class MinUnionFind extends Serializable {
    private val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
  }

  /** Bounded driver-side path: collect the (small) edge list, run
    * path-compressed union-find with min-id roots, parallelize the labels
    * back out.
    */
  private def driverUnionFind(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    val uf = new MinUnionFind
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    es.foreach { case (a, b) => uf.union(a, b) }
    es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct
      .map(x => (x, uf.find(x))).toDF("doc_id", "label")
  }

  /** Partition-local pre-contraction: a map-side union-find WITHIN each
    * partition replaces that partition's edges by (node → local-min) star
    * edges before the first distributed round. Zero shuffle, one pass; any
    * chain that happens to be co-located collapses to depth 1 for free, so
    * the star loop starts from a strictly shallower graph — and every round
    * it saves is a full subgraph shuffle plus a driver round-trip at scale.
    * Global connectivity is preserved exactly: within a partition all
    * reachable nodes share one local root, and a node split across
    * partitions re-glues its contracted components because it keeps a star
    * edge in each. Output stays in canonical big→small form (the local
    * root is the partition-component minimum, so src > dst always).
    */
  private def preContract(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val es = it.toArray
        val uf = new MinUnionFind
        es.foreach { case (a, b) => uf.union(a, b) }
        val seen = new java.util.HashSet[Long]()
        es.iterator.flatMap { case (a, b) => Iterator(a, b) }
          .filter(seen.add)
          .map(x => (x, uf.find(x)))
          .filter { case (x, r) => x != r }
      }
      .toDF("src", "dst")
  }

  /** Distributed path: large-star/small-star to the fixpoint where every
    * edge is (member, component-root), then labels. AQE is off for the
    * loop body (its per-stage re-planning turns every round into several
    * sequential driver round-trips) and shuffle partitions are sized to
    * the SUBGRAPH, not the session default. localCheckpoint truncates
    * lineage each round — the edge table stays a flat scan instead of an
    * ever-deepening join tree.
    */
  private def starLabels(s: SparkSession, edges: DataFrame, n: Long): DataFrame = {
    def symmetrize(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // large-star: every node attaches its LARGER neighbors to
    // m = min(N(u) ∪ {u}) — long chains collapse toward minima
    def largeStar(e: DataFrame): DataFrame = {
      val sym = symmetrize(e)
      val mins = sym.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.filter(col("dst") > col("src"))
        .join(mins, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // small-star: every node attaches its SMALLER neighbors (and itself)
    // to their minimum — stars flatten onto the true component root
    def smallStar(e: DataFrame): DataFrame = {
      val lows = symmetrize(e).filter(col("dst") < col("src"))
      val mins = lows.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      lows.join(mins, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // The loop wants AQE off (per-stage re-planning turns every round into
    // several sequential driver round-trips) and subgraph-sized shuffle
    // partitions. Setting those on the caller's session would RACE any
    // concurrent query sharing it, so the loop runs on a posture child
    // ([[graft.GraftSession.child]] — same SparkContext/executors/
    // checkpoint blocks, private SQLConf; sizing is re-applied per call, so
    // a previous subgraph's partition count never leaks into this one).
    // DataFrames cross the boundary via their checkpointed RDDs.
    val loop = graft.GraftSession.child(s, "cc-loop", aqe = false,
      shufflePartitions = Some(graft.Sizing.ccLoop(n)))
    def inLoop(e: DataFrame): DataFrame = loop.createDataFrame(e.rdd, e.schema)
    // map-side pre-contraction: start the loop from locally-collapsed stars
    var cur = inLoop(preContract(edges).localCheckpoint(true))
    // per-round fixpoint probe: ONE tiny aggregate (count + src/dst
    // sums as DECIMAL(38,0) — BIGINT sums of large doc_ids overflow).
    // Metric equality is NECESSARY for set equality, so the exact
    // except() confirmation only runs when the metrics stall —
    // normally exactly once, on the final round.
    def metrics(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val z = lit(0).cast("decimal(38,0)")
      val r = e.agg(count(lit(1)),
        coalesce(sum(col("src").cast("decimal(38,0)")), z),
        coalesce(sum(col("dst").cast("decimal(38,0)")), z)).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    var curM = metrics(cur)
    var converged = curM._1 == 0L
    var rounds = 0
    // Kiveris et al. prove O(log² n) rounds; cap at that bound (with a
    // generous floor) so a graph big enough to legitimately need >64
    // rounds isn't killed, while a rewiring bug still fails loudly.
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(Math.max(2L, n))
    val maxRounds = Math.max(64L, log2n.toLong * log2n)
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"large-star/small-star failed to converge in $maxRounds rounds")
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextM = metrics(next)
      converged = nextM == curM && next.except(cur).isEmpty
      curM = nextM
      cur = next
    }
    // at the fixpoint every edge is (member, component-root); roots keep
    // themselves (they appear only on the dst side). Hand the result back
    // to the CALLER's session so downstream plans run under its conf.
    val fixed = s.createDataFrame(cur.rdd, cur.schema)
    val nodes = symmetrize(edges).select(col("src").as("doc_id")).distinct()
    nodes
      .join(fixed.groupBy(col("src").as("doc_id")).agg(min(col("dst")).as("l")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("label"))
  }

  /** Test seam: run the distributed star path regardless of size. */
  private[graft] def starLabelsForTest(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(greatest(col("ida"), col("idb")).as("src"),
        least(col("ida"), col("idb")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    starLabels(pairs.sparkSession, edges, edges.count())
  }
}
