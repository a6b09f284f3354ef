package graft.queries

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cawd.{CawdEngine, CawdExport, StreamingEngine, Variant}

/** Streaming dedup exercised as a batch-checkable query: two file-arrival
  * waves (originals, then byte-identical copies) through the Structured
  * Streaming engine; the cross-batch chunk store must dedup wave 2 fully.
  *
  * The engine exports its per-batch chunk-status table, and the DuckDB
  * oracle re-derives every status independently: with a monotonically
  * growing store, "hit" ⇔ "some chunk with the same signature arrived
  * earlier in (batch, fileRank, seq) order" — so the cross-batch stateful
  * semantics reduce to the same first-occurrence SQL as the batch engine.
  */
object StreamingQueries {

  /** Running per-event-type totals carried across micro-batches by
    * [[org.apache.spark.sql.KeyValueGroupedDataset.mapGroupsWithState]]
    * (s03). Sums accumulate as Long micros so the value is independent of
    * row order within a group (double addition is not).
    */
  case class TypeState(n: Long, micros: Long)

  /** O(1) per-user sessionization state carried across micro-batches by
    * `flatMapGroupsWithState` (s06): closed-session count, running event
    * count, longest closed session, and the open session's (last event
    * time, length). Counters only — state size is independent of how many
    * events or sessions a user accumulates, which is what lets the
    * operator hold 10⁸ users on a cluster.
    */
  case class SessState(nSessions: Long, nEvents: Long, maxLen: Long,
                       lastUs: Long, curLen: Long)

  /** One s03 partition-local pre-fold: event rows → per-type
    * `(type, n, Σmicros)` partials, ≤|distinct types| rows per partition
    * per micro-batch. The downstream stateful absorption sums the partials,
    * so the final state is invariant under ANY partitioning or micro-batch
    * split of the input — Long addition is associative and commutative
    * (property-tested in TypeFoldPropSpec). This is map-side combine for a
    * low-cardinality stateful key: with ~5 keys the reduce side is ≤5 tasks
    * no matter the cluster size, so the pre-fold is what keeps the shuffle
    * and the per-row state updates off the critical path (measured
    * 22.1 → 2.7 s warm at the fifth decade — SCALE.md round 15).
    */
  private[queries] def preFoldTypes(
      it: Iterator[(String, Long)]): Iterator[(String, Long, Long)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    it.foreach { case (t, us) =>
      val p = m.getOrElse(t, (0L, 0L))
      m.update(t, (p._1 + 1L, p._2 + us))
    }
    m.iterator.map { case (t, (n, us)) => (t, n, us) }
  }

  /** One s06 fold step: absorb an event at time `us` (micros) into the
    * running session state. Pure and associative across CHRONOLOGICAL
    * chunks — folding a user's events batch-by-batch (each batch sorted,
    * batches in time order) gives the same final state as folding the
    * fully-sorted sequence at once, which is exactly the property the
    * cross-micro-batch streaming execution relies on (property-tested).
    */
  private[queries] def sessStep(st: SessState, us: Long, gapUs: Long): SessState = {
    // the chronological-chunks precondition is load-bearing: a multi-file
    // source or maxFilesPerTrigger split that delivers a batch older than
    // the open session would otherwise fold `us - lastUs < 0` as a silent
    // same-session continuation and corrupt every later count. Fail loudly —
    // an out-of-order source needs an event-time re-sort upstream, not a
    // quietly wrong answer.
    if (st.curLen != 0L && us < st.lastUs)
      throw new IllegalStateException(
        s"out-of-order event: $us < open-session lastUs ${st.lastUs}; " +
          "s06 requires chronologically ordered micro-batches")
    if (st.curLen == 0L || us - st.lastUs > gapUs)
      SessState(st.nSessions + 1, st.nEvents + 1,
        math.max(st.maxLen, st.curLen), us, 1L)
    else
      SessState(st.nSessions, st.nEvents + 1, st.maxLen, us, st.curLen + 1)
  }

  /** Schema-probed streaming read of the events table (the dir holds all
    * corpus tables, hence the glob).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    graft.Tables.fixEventTs(s.readStream
      .schema(s.read.parquet(s"$d/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d))

  /** Scratch root for transient stream state (checkpoints, staged input
    * waves): tmpfs when the host has one — checkpoint commit logs and state
    * snapshots fsync per micro-batch, and for these drain-and-discard
    * verification runs durability buys nothing. A production stream passes
    * its own durable checkpoint path to the library entry points.
    */
  private[queries] def scratchRoot: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-stream"
    else s"${sys.props("java.io.tmpdir")}/graft-stream"

  private val deferred = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHook: Unit = sys.addShutdownHook {
    val conf = new Configuration()
    deferred.forEach { d =>
      try { val p = new Path(d); p.getFileSystem(conf).delete(p, true) }
      catch { case _: Throwable => () }
    }
  }
  private def deferDelete(dir: String): Unit = { cleanupHook; deferred.add(dir) }

  /** Eagerly reclaim a terminated query's scratch (tmpfs RAM otherwise
    * accumulates for the life of the session): unload every loaded
    * state-store provider and halt the maintenance task FIRST — maintenance
    * against a deleted checkpoint dir error-loops — then delete. The next
    * streaming query restarts maintenance lazily on its first state access.
    * The shutdown-hook delete stays as the fallback for a failed delete.
    */
  private def releaseStreamScratch(dirs: String*): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    val conf = new Configuration()
    dirs.foreach { d =>
      try { val p = new Path(d); p.getFileSystem(conf).delete(p, true) }
      catch { case _: Throwable => deferDelete(d) }
    }
  }

  /** Drain state stores for a query whose per-ROW state work scales with
    * input (s05's symmetric join buffer, s04's per-row dedup probe, s06's
    * per-user fold): [[graft.Sizing.drainState]] of the events bytes. The
    * 8-store pin would serialize that work onto a quarter of the cores at
    * the fifth decade; input-proportional sizing is how a cluster
    * deployment would set spark.sql.shuffle.partitions for the same stream.
    */
  private def sizedStateParts(s: SparkSession, d: String): Int =
    graft.Sizing.drainState(graft.Tables.tableBytes(s, d, "events").getOrElse(0L),
      graft.Sizing.cores(s))

  /** Shared memory-sink harness: start the query against a uniquely-named
    * sink, drain it (AvailableNow inside `start`), project + materialize
    * the sink table, drop the view.
    *
    * Everything runs on a [[graft.GraftSession.child]] tagged with the
    * query prefix and the corpus dir, never on the caller's session: `start`
    * builds its stream on the child it is handed, and the sink is read and
    * dropped there. The child's conf is constant per tag — `stateParts`
    * shuffle partitions (one state store and checkpoint tree per partition
    * per micro-batch) and the checkpoint root `$scratchRoot/ckpt`, under
    * which Spark places each named query at `<root>/<queryName>` — so
    * concurrent queries on the caller's session never see a drain's
    * settings. AQE is on as in the caller's default posture; streaming
    * execution disables it for the micro-batches anyway, so it only shapes
    * the sink read.
    *
    * `stateParts` defaults to [[graft.Sizing.DrainStateParts]]: most of
    * these local-mode drains hold kilobytes of state per partition, and 32
    * near-empty stores are pure overhead. A query whose state is
    * corpus-sized passes [[sizedStateParts]]: s05's interval join buffers
    * every click+view row (39.8 M rows / 8.5 GB at the fifth decade), and
    * its cost measured as state-store update time (round 14, SCALE.md "s05
    * probed the way s01 was") — 439 s of summed per-task updates serialized
    * onto 8 stores ≈ 55 s of wall — with micro-batch machinery at 0.77 s.
    */
  private def drainToMemory(s: SparkSession, prefix: String, d: String,
      start: (SparkSession, String) => org.apache.spark.sql.streaming.StreamingQuery,
      project: DataFrame => DataFrame,
      stateParts: Int = graft.Sizing.DrainStateParts): DataFrame = {
    val cs = graft.GraftSession.child(s, s"drain-$prefix:$d", aqe = true,
      shufflePartitions = Some(stateParts))
    cs.conf.set("spark.sql.streaming.checkpointLocation", s"$scratchRoot/ckpt")
    // State-store provider: the SparkConf's stateStore.providerClass reaches
    // this child; SCALE.md "RocksDB state-store provider probed" (3.4x slower).
    val name = s"${prefix}_${UUID.randomUUID().toString.replace("-", "")}"
    // non-empty-source guard via listener, NOT recentProgress: the progress
    // ring buffer holds only the last ~100 entries, so a drain with many
    // trailing empty micro-batches could roll every nonzero entry off and
    // spuriously fail a healthy run. The listener sees EVERY batch.
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var qid: UUID = null
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name) inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (qid != null && e.id == qid) drained.countDown()
    }
    cs.streams.addListener(listener)
    try {
      val query = start(cs, name)
      qid = query.id // set long before termination can post (drain runs async)
      query.awaitTermination()
      // audit hook: the drained stream's last micro-batch physical plan —
      // the plan PlanAudit cannot see from the returned batch view
      query match {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          graft.StreamingPlanCapture.record(prefix, w.explainInternal(false))
        case _ => ()
      }
      // listener bus delivery is async; events are FIFO, so once the
      // terminated event lands every progress event has been counted
      drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
      // a wrong data layout (e.g. a directory where the glob expects a
      // file) drains ZERO input rows and would otherwise "pass" vacuously —
      // the failure mode the sf1 scale run hit. An AvailableNow drain of a
      // real corpus always reads something; fail loudly if nothing matched.
      if (inputRows.get() == 0L) throw new IllegalStateException(
        s"$prefix: streaming source matched no input rows — wrong data layout?")
    } finally {
      cs.streams.removeListener(listener)
      releaseStreamScratch(s"$scratchRoot/ckpt/$name")
    }
    val out = project(cs.table(name)).localCheckpoint(true)
    cs.catalog.dropTempView(name)
    out
  }

  /** Stage a file-arrival wave: HARDLINK when source and destination share
    * a filesystem (wave arrival is then a metadata op), byte-copy only as
    * the cross-device fallback. At the 1000× corpus the two copy waves
    * were 15-34 s each of pure test-harness time polluting the s01 bench
    * row — the engine under test never reads the staged bytes twice, so
    * copying them was measurement noise, not realism. Links preserve the
    * source mtime; the engine's file source disables age-based skipping
    * (maxFileAge=36500d in StreamingEngine.start), so preserved mtimes
    * cannot age a wave out even on a corpus whose files span years.
    */
  private[queries] def stageInto(fs: org.apache.hadoop.fs.FileSystem, conf: Configuration,
                        srcs: Seq[String], destDir: Path, prefix: String): Unit =
    srcs.foreach { s =>
      val src = new Path(s)
      val dst = new Path(destDir, prefix + src.getName)
      val linked =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(src.toUri.getPath))
          true
        } catch { case _: Exception => false } // cross-device / non-local fs
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Structured Streaming windowed aggregation over the events stream:
    // 5-minute tumbling event-time windows with a watermark, complete-mode
    // memory sink. With AvailableNow the final result equals the batch
    // aggregation, so the streaming machinery (file source, window(),
    // stateful agg) gets a value-level oracle.
    "s02_streaming_window" -> ((s, d) => drainToMemory(s, "s02", d,
      (cs, name) => eventsStream(cs, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(),
      _.select(unix_timestamp(col("window.start")).as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket", "event_type"))),

    // Custom streaming state (SURVEY.md §2.8): running per-key totals via
    // mapGroupsWithState — the API a pipeline reaches for when windows/aggs
    // can't express its state machine. With AvailableNow the final state
    // equals the batch aggregation, so the stateful path gets a value-level
    // oracle; the update-mode memory sink may hold one row per key per
    // batch, and the max-(n) row per key is the final state (counts are
    // monotone).
    "s03_stateful_running_totals" -> ((s, d) => {
      // s03's five keys mean the stateful exchange lands every event row on
      // ≤5 tasks regardless of store count. The accumulation is associative
      // and order-independent by design (Long micros), so a partition-local
      // pre-fold (event_type → (n, Σmicros), ≤5 rows per partition per
      // batch) can shrink both the exchange and the state-update row count
      // by ~|batch|/5·parts. Measured 22.1 → 2.7 s warm at the fifth
      // decade against the per-row shape (SCALE.md "s03's 5-key exchange
      // pre-folded").
      drainToMemory(s, "s03", d,
        (cs, name) => {
          import cs.implicits._
          eventsStream(cs, d)
            .select(col("event_type"),
              round(col("value") * 1e6, 0).cast("long").as("micros"))
            .as[(String, Long)]
            .mapPartitions(preFoldTypes _)
            .groupByKey(_._1)
            .mapGroupsWithState[TypeState, (String, Long, Double)](
              org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
              (key: String, it: Iterator[(String, Long, Long)],
               state: org.apache.spark.sql.streaming.GroupState[TypeState]) =>
                var st = state.getOption.getOrElse(TypeState(0L, 0L))
                it.foreach(r => st = TypeState(st.n + r._2, st.micros + r._3))
                state.update(st)
                (key, st.n, st.micros / 1e6)
            }
            .toDF("event_type", "n", "sum_value")
            .writeStream.outputMode("update")
            .format("memory").queryName(name)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        },
        _.groupBy(col("event_type"))
          .agg(max(struct(col("n"), col("sum_value"))).as("st"))
          .select(col("event_type"), col("st.n").as("n"),
            round(col("st.sum_value"), 6).as("sum_value"))
          .orderBy("event_type"))
    }),

    // Built-in stateful streaming dedup: dropDuplicates holds the seen-key
    // set as streaming state (the relational cousin of the chunk store).
    // Which event survives per key is racy, so only the KEY SET is output
    // — deterministic, and equal to the batch DISTINCT the oracle runs.
    // The s03 pre-fold trick does NOT transfer here (measured no-win,
    // round 15): s04's keys have no row-order locality — at the fifth
    // decade a partition-local exact pre-distinct would still emit 81.8 M
    // of 100 M rows (each of the 7.5 M distinct pairs spreads across ~13
    // of 32 partitions), an 18 % exchange cut that cannot pay for a
    // ~2.5 M-tuple set per task. Revisit only if the corpus becomes
    // key-clustered (e.g. source-partitioned by user).
    "s04_streaming_distinct" -> ((s, d) => drainToMemory(s, "s04", d,
      (cs, name) => eventsStream(cs, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(),
      _.select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type"),
      // every input row probes the dedup state: per-row state work scales
      // with input, so size stores like s05 (measured 38.4 -> see SCALE.md)
      stateParts = sizedStateParts(s, d))),

    // Stream-stream interval join: each click joined to the same user's
    // views from the preceding 6 hours — the attribution-join shape, and
    // the one Structured Streaming feature class (two buffered stateful
    // sides, event-time range condition) the other s* queries don't touch.
    // Watermarks on BOTH sides + the time bound let the engine evict
    // buffered state at scale; with AvailableNow the inner join emits
    // exactly the batch interval-join result, so it gets a full oracle.
    "s05_stream_stream_join" -> ((s, d) => drainToMemory(s, "s05", d,
      (cs, name) => {
        val clicks = eventsStream(cs, d)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val views = eventsStream(cs, d)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
            col("ts").as("view_ts"))
          .withWatermark("view_ts", "1 hour")
        clicks.join(views,
            col("user_id") === col("view_user") &&
              col("view_ts") >= col("click_ts") - expr("INTERVAL 6 HOURS") &&
              col("view_ts") <= col("click_ts"))
          .select(col("click_id"), col("view_id"), col("user_id"),
            (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
              .as("lag_sec"))
          .writeStream.outputMode("append")
          .format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      },
      _.orderBy("click_id", "view_id"),
      // corpus-sized join state: one store per core at the fifth decade
      // (SCALE.md "s05 probed the way s01 was": the 8-store drain was
      // state-update-bound at 82.8 s warm, 52.9 s at 32 stores), 8 at
      // sf0.1-and-smaller (32 near-empty stores measured 4.5x the drain
      // cost at sf0.01)
      stateParts = sizedStateParts(s, d))),

    // Streaming sessionization via flatMapGroupsWithState — the API class
    // the other s* queries don't touch (s03 uses mapGroupsWithState's
    // one-row-per-group shape; flatMap is the general emit-any-rows form).
    // Gap rule is IDENTICAL to batch q12 (new session when the gap exceeds
    // 30 min). Each invocation sorts only ITS batch's per-user events
    // (bounded by the user's batch volume), folds them into the O(1)
    // state, and emits the user's running summary; with AvailableNow the
    // final emitted row per user equals the batch sessionization, so the
    // stateful path gets a full value-level oracle. n_events is strictly
    // monotone per user, so max(struct(...)) projects the final row out of
    // the update-mode sink. Production variant: EventTimeTimeout to evict
    // users idle past the watermark.
    "s06_streaming_sessions" -> ((s, d) => {
      val gapUs = 1800000000L
      drainToMemory(s, "s06", d,
        (cs, name) => {
          import cs.implicits._
          eventsStream(cs, d)
            .select(col("user_id"), unix_micros(col("ts")).as("us"))
            .as[(Long, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState[SessState, (Long, Long, Long, Long)](
              org.apache.spark.sql.streaming.OutputMode.Update(),
              org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
              (user: Long, it: Iterator[(Long, Long)],
               state: org.apache.spark.sql.streaming.GroupState[SessState]) =>
                var st = state.getOption.getOrElse(SessState(0L, 0L, 0L, 0L, 0L))
                it.map(_._2).toArray.sorted.foreach { us =>
                  st = sessStep(st, us, gapUs)
                }
                state.update(st)
                Iterator((user, st.nSessions, st.nEvents,
                  math.max(st.maxLen, st.curLen)))
            }
            .toDF("user_id", "n_sessions", "n_events", "max_session_len")
            .writeStream.outputMode("update")
            .format("memory").queryName(name)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        },
        _.groupBy(col("user_id"))
          .agg(max(struct(col("n_events"), col("n_sessions"),
            col("max_session_len"))).as("st"))
          .select(col("user_id"), col("st.n_sessions").as("n_sessions"),
            col("st.n_events").as("n_events"),
            col("st.max_session_len").as("max_session_len"))
          .orderBy("user_id"),
        // per-user fold touches every input row; user keys are uniform,
        // so input-proportional store sizing parallelizes it (s05's rule)
        stateParts = sizedStateParts(s, d))
    }),

    // Stream-STATIC broadcast join — the remaining Structured Streaming
    // join class (s05 covers stream-stream): training documents stream in,
    // the benchmark 5-gram shingle set is a static broadcast side (the
    // production decontamination deployment shape: the benchmark corpus is
    // fixed, training data flows). Per-doc shingle dedup happens with
    // array_distinct BEFORE the explode — no stateful distinct needed —
    // and the join is stateless, so only the final per-doc count holds
    // state. Counts are monotone per (doc, source), so max(struct(...))
    // projects the final rows out of the update-mode sink; the result
    // equals batch d15 exactly. Production adds a watermark on an ingest
    // timestamp to bound the aggregation state.
    "s07_stream_static_decontam" -> ((s, d) =>
      // the static benchmark side is the persisted per-corpus shingle set
      // (shared with d15/d17) — the production deployment would load the
      // fixed benchmark index, not re-derive it per stream start
      drainToMemory(s, "s07", d,
        (cs, name) => cs.readStream
          .schema(cs.read.parquet(s"$d/documents.parquet").schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d)
          .filter(col("source") =!= "src0")
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), col("source"),
            explode(expr(
              s"array_distinct(${TextQueries.shingle5Expr})")).as("s5"))
          .join(broadcast(TextQueries.benchShingles(cs, d)), Seq("s5"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_shared_shingles"))
          .writeStream.outputMode("update")
          .format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(),
        _.groupBy(col("doc_id"), col("source"))
          .agg(max(col("n_shared_shingles")).as("n_shared_shingles"))
          .orderBy("doc_id"))),

    "s01_streaming_dedup" -> ((s, d) => {
      val conf = new Configuration()
      val root = new Path(s"$scratchRoot/${UUID.randomUUID()}")
      val fs = root.getFileSystem(conf)
      // the input staging dir lives on the CORPUS's filesystem (tmpdir is
      // on the same device as /root/testdata and /tmp corpora), NOT the
      // tmpfs scratch root: stageInto can then hardlink each wave instead
      // of copying corpus bytes. Checkpoints/store/stats stay on tmpfs —
      // they are the fsync-heavy part; the input is read-once.
      val inDir = new Path(
        s"${sys.props("java.io.tmpdir")}/graft-stream-in/${UUID.randomUUID()}")
      val store = new Path(root, "store").toString
      val stats = new Path(root, "stats").toString
      val ckpt = new Path(root, "ckpt").toString
      // everything that touches the filesystem — including creating inDir —
      // happens INSIDE the try, so a throw anywhere (listFiles, the export
      // delete, staging) still reaches the finally and neither temp tree
      // leaks
      try {
        fs.mkdirs(inDir)
        val exportDir = CawdExport.dir(d, "s01")
        fs.delete(new Path(exportDir), true) // per-batch partitions; fresh per run
        val srcs = CawdEngine.listFiles(d, Variant.Parquet.suffix).map(_._1)
        // wave 1: originals arrive
        stageInto(fs, conf, srcs, inDir, "")
        StreamingEngine.start(s, inDir.toString, store, stats,
          Variant.Parquet.suffix, CawdEngine.Parquet, ckpt, Some(exportDir)).awaitTermination()
        // wave 2: byte-identical copies arrive later
        stageInto(fs, conf, srcs, inDir, "zz_copy_")
        StreamingEngine.start(s, inDir.toString, store, stats,
          Variant.Parquet.suffix, CawdEngine.Parquet, ckpt, Some(exportDir)).awaitTermination()

        StreamingEngine.statsRollup(s, stats)
          .orderBy("file", "metric")
          // materialize before the temp tree is deleted
          .localCheckpoint(true)
      } finally releaseStreamScratch(root.toString, inDir.toString) // ckpt inside root
    })
  )

  val oracle: Map[String, String] = Map(
    // batchId ≪ 2^22 files per batch ≪ 2^22, seq < 2^32 → composite key fits a BIGINT
    "s01_streaming_dedup" -> CawdOracleSql.flatSql("s01", Variant.Parquet,
      keyExpr = "(batchId * 4194304 + fileRank) * 4294967296 + seq",
      glob = Some(s"${CawdExport.Root}/sf0.01/s01/batch=*/*.parquet")),

    // streaming dropDuplicates key set == batch DISTINCT
    "s04_streaming_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // final mapGroupsWithState state == batch per-key aggregation
    "s03_stateful_running_totals" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(CAST(round(value * 1000000, 0) AS BIGINT)) / 1000000.0, 6) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    // streaming interval self-join == batch interval join (inner join +
    // AvailableNow: every match emitted exactly once)
    "s05_stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
        |  CAST(floor(epoch(a.ts)) - floor(epoch(b.ts)) AS BIGINT) AS lag_sec
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'click' AND b.event_type = 'view'
        |  AND b.ts >= a.ts - INTERVAL 6 HOUR AND b.ts <= a.ts""".stripMargin,

    // streaming stream-static decontamination == batch d15 (the join is
    // stateless and the final per-doc counts drain to the batch values)
    "s07_stream_static_decontam" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |       FROM toks, UNNEST(range(1, len(w)-3)) AS g(i)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
        |SELECT doc_id, source, count(*) AS n_shared_shingles
        |FROM sh JOIN bench USING (s)
        |WHERE source <> 'src0'
        |GROUP BY doc_id, source""".stripMargin,

    // final flatMapGroupsWithState summaries == batch gap-sessionization
    // (same 30-min rule as q12), summarized per user
    "s06_streaming_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |marked AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |           > 1800000000 OR
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |      THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |sess AS (
        |  SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |g AS (SELECT user_id, sid, count(*) AS len FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(len) AS BIGINT) AS n_events, max(len) AS max_session_len
        |FROM g GROUP BY user_id""".stripMargin,

    // complete-mode streaming window == batch tumbling-window aggregation
    "s02_streaming_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )
}
