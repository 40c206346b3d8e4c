package graft.queries

import graft.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch-equivalence bridge for the Structured Streaming operators: runs the
  * events table THROUGH the streaming engine (readStream → transform →
  * memory sink) and returns the settled result shaped exactly like the batch
  * query, so the streaming surface sits under the driver's DuckDB oracle
  * gate instead of only ScalaTest (`stream_events_tumbling` shares
  * `q_events_tumbling`'s oracle).
  *
  * The memory sink is the test/driver-visibility sink; in production the
  * identical `StreamingOps.tumblingCounts` plan writes to any sink with
  * watermark-bounded state (see graft.streaming). Unlike every other
  * registry entry this one executes eagerly (a streaming query must run to
  * produce its table) — the returned frame is the settled result.
  */
object StreamingBridge {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Materialize the settled sink table driver-side and DROP the temp view
    * — without this every invocation leaks one in-memory result table for
    * the JVM lifetime (neither clearCache nor the persistent-RDD sweep
    * touches temp views). Results are small (≤ tens of thousands of rows).
    */
  private def settle(s: SparkSession, sinkSession: SparkSession, name: String,
      shaped: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(shaped.collect(): _*)
    sinkSession.catalog.dropTempView(name)
    s.createDataFrame(rows, shaped.schema)
  }

  /** Run a streaming frame to its settled memory-sink table, shape it, and
    * clean up. The run-to-completion + always-stop + drop-view contract
    * for every bridge query lives only here: a new bridge entry cannot
    * leak a running query or a temp view by forgetting the boilerplate.
    *
    * The stream is BUILT AND RUN ON A PRIVATE CHILD SESSION
    * (`s.newSession()` — shares the SparkContext, clones the conf):
    * per-query streaming confs (`multipleWatermarkPolicy`, the RocksDB
    * state-store provider) are plain `confs` entries that live and die
    * with the bridge run instead of being set/restored on the shared
    * session — the same concurrent-visibility race class
    * FrontierQueries.sqlScript was isolated for. The memory-sink temp
    * view lands in the child's (session-scoped) catalog, so a leak
    * cannot outlive the bridge either.
    */
  /** `singleBatch = false` is for sinks whose content is only complete
    * after the trailing watermark micro-batch (stream-stream OUTER joins:
    * unmatched rows emit on state eviction). Everything else runs
    * Trigger.Once. */
  /** State-partition sizing (r8, StreamProbe-measured): every stateful
    * operator commits one state-store file PER PARTITION PER MICRO-BATCH,
    * a fixed ~100-200 ms I/O cost that is independent of the rows in the
    * store — at 32 shuffle partitions the sf0.1 interval joins (4 stores
    * per partition × 2 batches) spent 35-44 s of cumulative task time on
    * commits holding ~12k state rows, and dropping to 8 partitions cut the
    * bridge walls ~2-3× with byte-identical results. Production sizing is
    * the same judgment in the other direction: state partitions sized to
    * STATE VOLUME (so a 100 TB deployment raises this per-query conf),
    * never defaulted to the batch shuffle width. Per-bridge `confs` can
    * override. */
  private val StateParts = Seq("spark.sql.shuffle.partitions" -> "8")

  private def runSettled(s: SparkSession, prefix: String, mode: OutputMode,
      singleBatch: Boolean = true, confs: Seq[(String, String)] = Nil)
      (build: SparkSession => DataFrame)
      (shape: DataFrame => DataFrame): DataFrame = {
    val cs = s.newSession()
    (StateParts ++ confs).foreach { case (k, v) => cs.conf.set(k, v) }
    val name = s"graft_stream_${prefix}_${counter.incrementAndGet()}"
    // Trigger.Once: the bounded source fits one micro-batch (Once processes
    // ALL available input regardless of maxFilesPerTrigger), every bridge's
    // sink content is complete after the data batch (inner joins emit
    // eagerly; Complete mode rewrites; the stateful ops emit while
    // processing), and skipping the trailing eviction-only batch saves ~40%
    // of the stream-stream join's wall time. See StreamingOps.toMemorySink.
    val q = StreamingOps.toMemorySink(build(cs), name, mode, singleBatch)
    try {
      if (singleBatch) q.awaitTermination() else q.processAllAvailable()
    } finally q.stop()
    settle(s, cs, name, shape(cs.table(name)))
  }

  /** RocksDB state-store provider, required by `transformWithState` —
    * passed as a child-session conf by the three TWS bridges. */
  private val RocksDbProvider = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Max multiple-watermark policy, required by the OUTER interval joins
    * (see StreamingOps.purchasesAfterSignupOuter scaladoc). */
  private val MaxWatermarkPolicy =
    Seq("spark.sql.streaming.multipleWatermarkPolicy" -> "max")

  /** The events parquet as a bounded stream, with the same ns→µs timestamp
    * normalization the batch loader applies (streaming sources require an
    * explicit schema, so the raw — nanosAsLong — schema is read first, from
    * a footer on the driver: no inference job).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d) // ensures the nanosAsLong conf is in place
    val raw = Tables.footerSchema(s, s"$d/events.parquet")
    // glob form: FileStreamSource requires a directory or glob basePath,
    // and the fixture is a single parquet file
    val src = s.readStream.schema(raw).parquet(s"$d/{events}.parquet")
    // shared ts normalization — the same decision Tables.load makes for the
    // batch path, so the two can never diverge on fixture-type drift
    Tables.normalizeTs(src, raw("ts").dataType)
  }

  /** Tumbling windows via the streaming engine; equals `q_events_tumbling`. */
  def tumblingViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "tumbling", OutputMode.Complete()) { cs =>
      StreamingOps.tumblingCounts(eventsStream(cs, d))
    } {
      _.select(col("win_start").cast("long").as("win_start"), col("event_type"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
    }.orderBy("win_start", "event_type")

  /** Trigger.AvailableNow MULTI-BATCH run (the Trigger.Once successor and
    * the production backfill trigger): the events table split into 4
    * parquet files, streamed with maxFilesPerTrigger=1 so the bounded
    * input processes as ≥4 micro-batches with aggregate STATE carried
    * across batch boundaries — the cross-batch commit/restore path the
    * single-batch bridges never touch. A runtime probe REQUIRES multiple
    * micro-batches (rate-limit regression would silently degrade this to
    * the Once shape); the settled Complete-mode totals must equal the
    * batch aggregate regardless of how rows fell into files.
    */
  def availableNowViaStream(s: SparkSession, d: String): DataFrame = {
    val root = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      "/graft_stream/events_split_" + d.replaceAll("[^A-Za-z0-9]", "_")
    // split-file projection (r9): this aggregate touches only three of the
    // six event columns, and the stream re-reads the split on EVERY one of
    // its ≥4 micro-batches — writing just those columns drops the fat
    // `props` string and the ts normalization from all of them (a batch
    // scan prunes columns for free; a per-batch re-decode of unused
    // strings is paid 4×)
    Tables.events(s, d).select("user_id", "event_type", "value")
      .repartition(4).write.mode("overwrite").parquet(root)
    // private child session for the STREAM (the runSettled discipline):
    // this bridge pays the per-partition state commit on EVERY one of its
    // ≥4 micro-batches, so the StateParts sizing matters most here
    val cs = s.newSession()
    StateParts.foreach { case (k, v) => cs.conf.set(k, v) }
    val raw = Tables.footerSchema(cs, root)
    val src =
      cs.readStream.schema(raw).option("maxFilesPerTrigger", "1").parquet(root)
    val counts = src.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("v_c"))
    val name = s"graft_stream_avnow_${counter.incrementAndGet()}"
    val q = StreamingOps.toMemorySinkAvailableNow(counts, name,
      OutputMode.Complete())
    val nBatches = try { q.awaitTermination(); q.recentProgress.length }
      finally q.stop()
    // settle (which DROPS the temp view) before the probe assert — a probe
    // failure must not leak the memory-sink table for the JVM lifetime
    val settled = settle(s, cs, name, cs.table(name))
    require(nBatches >= 2,
      s"AvailableNow ran $nBatches micro-batch(es) — maxFilesPerTrigger not honored")
    settled.orderBy("user_id", "event_type")
  }

  /** Streaming UNION of two sources (the multi-topic ingestion shape:
    * one query consuming several feeds): the events table split into two
    * bounded streams by event-id parity, unioned INSIDE the streaming
    * query, then windowed — watermark and state machinery span both
    * sources (the watermark is the min across inputs, so neither source
    * can advance state eviction past the other). Settled result must
    * equal the single-source tumbling query on the whole table.
    */
  def unionViaStream(s: SparkSession, d: String): DataFrame = {
    runSettled(s, "union", OutputMode.Complete()) { cs =>
      val a = eventsStream(cs, d).filter(col("event_id") % 2 === 0)
      val b = eventsStream(cs, d).filter(col("event_id") % 2 =!= 0)
      StreamingOps.tumblingCounts(a.unionByName(b))
    } {
      _.select(col("win_start").cast("long").as("win_start"), col("event_type"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
    }.orderBy("win_start", "event_type")
  }

  /** CHAINED window aggregations (two stateful aggs in ONE streaming
    * query — StreamingOps.chainedWindowAgg) under the gate: Append mode,
    * so only watermark-closed windows reach the sink; the trailing batch
    * (singleBatch = false) lets the zero-delay watermark flush every
    * window that ends at-or-before max(ts). Oracle = batch double
    * aggregate with the same end ≤ ms-truncated-watermark keep filter
    * (Spark truncates event-time watermarks to ms — the stream_late_drop
    * discipline).
    */
  def chainedAggViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "chained", OutputMode.Append(), singleBatch = false) { cs =>
      StreamingOps.chainedWindowAgg(eventsStream(cs, d))
    } {
      _.select(col("win_start").cast("long").as("win_start"),
        col("n_types"), col("n_events"))
    }.orderBy("win_start")

  /** Sliding 10/5-minute windows via the streaming engine; equals
    * `q_events_sliding` (each event lands in exactly two panes; the window
    * state store holds horizon/slide panes per key — the bounded-state
    * form of overlapping windows).
    */
  def slidingViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "sliding", OutputMode.Complete()) { cs =>
      StreamingOps.slidingSums(eventsStream(cs, d))
    } {
      _.select(col("win_start").cast("long").as("win_start"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
    }.orderBy("win_start")

  /** Event-time session windows via the streaming engine (session_window
    * state merges). Equals the batch gaps-and-islands sessionization
    * (`q_events_session`) projected to (user, start, count, sum).
    * Boundary caveat: session_window compares the exact-microsecond gap
    * against 30 min while the oracle compares second-TRUNCATED epochs with
    * `> 1800`, so gaps in [1800s, 1801s) whose floored difference is 1800
    * would legitimately disagree — verified absent from this fixture at
    * every SF ((exact > 1800) == (floored > 1800) for all consecutive
    * same-user pairs).
    */
  def sessionViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "session", OutputMode.Complete()) { cs =>
      StreamingOps.sessionCounts(eventsStream(cs, d))
    } {
      _.select(col("user_id"),
        col("session_start").cast("long").as("session_start"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
    }.orderBy("user_id", "session_start")

  /** Arbitrary stateful processing (`mapGroupsWithState`) under the gate:
    * running per-user totals, whose settled state must equal the batch
    * groupBy. Update-mode memory sink; the bounded file source fits one
    * micro-batch, and the max_by reduction keeps the read robust if it
    * ever splits (n_events is monotone per key).
    */
  /** `stream_user_totals` through Spark 4's `transformWithState` instead
    * of `mapGroupsWithState` — same oracle, so the two arbitrary-state
    * APIs are proven equivalent on the same data. transformWithState only
    * runs on the RocksDB state store; the conf is session-level and must
    * cover EXECUTION, so it rides the bridge's private child session.
    */
  def transformStateViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runSettled(s, "tws", OutputMode.Update(), confs = RocksDbProvider) { cs =>
      val ev = eventsStream(cs, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[StreamingOps.Event]
      StreamingOps.runningUserTotalsTws(ev).toDF()
    } {
      _.groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          round(expr("max_by(total_value, n_events)"), 2).as("total_value"))
    }.orderBy("user_id")
  }

  def userTotalsViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runSettled(s, "utotals", OutputMode.Update()) { cs =>
      val ev = eventsStream(cs, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[StreamingOps.Event]
      StreamingOps.runningUserTotals(ev).toDF()
    } {
      _.groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          round(expr("max_by(total_value, n_events)"), 2).as("total_value"))
    }.orderBy("user_id")
  }

  /** 0..N-emission stateful surface (`flatMapGroupsWithState`): one row per
    * session-OPENING event; equals the batch gaps-and-islands flag rows.
    */
  def sessionStartsViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runSettled(s, "sstarts", OutputMode.Append()) { cs =>
      val ev = eventsStream(cs, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[StreamingOps.Event]
      StreamingOps.sessionStarts(ev).toDF()
    } {
      _.select(col("user_id"), col("session_start"))
    }.orderBy("user_id", "session_start")
  }

  /** Stream-stream interval join under the gate: signup→purchase
    * attribution within an hour, per user. Equals the batch range join
    * (the DuckDB oracle) because inner interval joins emit eagerly.
    */
  def intervalJoinViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "ivjoin", OutputMode.Append()) { cs =>
      StreamingOps.purchasesAfterSignup(eventsStream(cs, d))
    } {
      _.select(col("s_user").as("user_id"), col("signup_id"), col("purchase_id"),
        col("s_ts").cast("long").as("signup_s"),
        col("p_ts").cast("long").as("purchase_s"), col("value"))
    }.orderBy("signup_id", "purchase_id")

  /** Stream-stream LEFT OUTER interval join under the gate: outer rows
    * (signups with no purchase within the hour) emit only when the
    * watermark closes their join window, so this is the one bridge that
    * NEEDS the trailing watermark micro-batch (`singleBatch = false`).
    * Equals the batch left range join over the same bounded universe.
    */
  def intervalLeftViaStream(s: SparkSession, d: String): DataFrame =
    // max watermark policy for THIS query only (see purchasesAfterSignupOuter
    // scaladoc) — a child-session conf, read at stream start
    runSettled(s, "ivleft", OutputMode.Append(), singleBatch = false,
      confs = MaxWatermarkPolicy) { cs =>
      StreamingOps.purchasesAfterSignupOuter(eventsStream(cs, d))
    } {
      _.select(col("s_user").as("user_id"), col("signup_id"), col("purchase_id"),
        col("s_ts").cast("long").as("signup_s"),
        col("p_ts").cast("long").as("purchase_s"), col("value"))
    }.orderBy("signup_id", "purchase_id")

  /** Stream-stream FULL OUTER interval join under the gate: unmatched
    * rows from BOTH sides emit on watermark eviction (the left form only
    * evicts signups). user_id coalesces across sides because either can
    * be the null one. Needs the trailing watermark batches and the max
    * watermark policy, like the left form.
    */
  def intervalFullViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "ivfull", OutputMode.Append(), singleBatch = false,
      confs = MaxWatermarkPolicy) { cs =>
      StreamingOps.purchasesAfterSignupFull(eventsStream(cs, d))
    } {
      _.select(coalesce(col("s_user"), col("p_user")).as("user_id"),
        col("signup_id"), col("purchase_id"),
        col("s_ts").cast("long").as("signup_s"),
        col("p_ts").cast("long").as("purchase_s"), col("value"))
    }.orderBy("user_id", "signup_id", "purchase_id")

  /** Stream-static enrichment under the gate: events joined per
    * micro-batch to the static customer dimension (broadcast, no
    * streaming state), settled to per-(segment, event_type) totals.
    * The sink projection keeps ONLY the columns the settle aggregates —
    * shipping the fat props column through the memory sink blew the
    * driver's result budget at sf10 (10M wide rows > maxResultSize);
    * prune-before-materialize is the same discipline a production sink
    * needs at 100 TB.
    */
  def enrichJoinViaStream(s: SparkSession, d: String): DataFrame = {
    runSettled(s, "enrich", OutputMode.Append()) { cs =>
      val dim = Tables.customer(cs, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      StreamingOps.enrichWithDim(eventsStream(cs, d), dim, "user_id",
          "c_custkey")
        .select(col("c_mktsegment"), col("event_type"), col("value"))
    } {
      _.groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    }.orderBy("c_mktsegment", "event_type")
  }

  /** Streaming exact dedup under the gate: the events stream is unioned
    * with itself (every event_id delivered twice — at-least-once delivery
    * simulated deterministically; the raw table's ids are unique, which
    * would make a dedup vacuous), then `dropDuplicatesWithinWatermark`
    * keeps exactly one copy per id. Settled to per-type counts. Equals the
    * batch DISTINCT: each id counted once — proving the stream path drops
    * precisely the redelivered copies.
    */
  def dedupViaStream(s: SparkSession, d: String): DataFrame = {
    runSettled(s, "dedup", OutputMode.Append()) { cs =>
      val ev = eventsStream(cs, d)
      StreamingOps.streamingDedup(ev.union(ev))
    } {
      _.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    }.orderBy("event_type")
  }

  /** Checkpoint recovery under the gate (graduated from
    * StreamingRecoverySpec): a stateful per-user count runs over HALF the
    * events (split by event_id parity into one file each), is STOPPED —
    * the simulated failure — then the second file lands and the query
    * restarts on the SAME checkpoint. The oracle is the plain batch
    * aggregate over all events, so both recovery failure modes diverge
    * measurably: dropped state undercounts the batch-1 users, and
    * reprocessing batch 1 overcounts them. Sink = foreachBatch upsert
    * into a keyed map (update mode; the memory sink forbids recovery by
    * design) — the bounded-cardinality MERGE a production foreachBatch
    * runs against Delta/JDBC, one row per user. Counts only, no float
    * aggregates: recovery equivalence must be exact.
    */
  def recoveryViaStream(s: SparkSession, d: String): DataFrame = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rec-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec-ckpt")
    try {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
      val schema = ev.schema
      val totals = scala.collection.concurrent.TrieMap.empty[Long, Long]
      // child session: state-partition sizing (see StateParts) — the count
      // state is one long per user, and BOTH phases pay per-partition commits
      val cs = s.newSession()
      StateParts.foreach { case (k, v) => cs.conf.set(k, v) }
      def run(): Unit = {
        val q = cs.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$srcDir/*")
          .groupBy("user_id").agg(count(lit(1)).as("n_events"))
          .writeStream
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.collect().foreach(r => totals(r.getLong(0)) = r.getLong(1))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$srcDir/half_a")
      run() // consume half_a, then stop: the simulated failure
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$srcDir/half_b")
      run() // restart on the same checkpoint: state carried, no replay
      import s.implicits._
      totals.toSeq.toDF("user_id", "n_events").orderBy("user_id")
    } finally { rmRf(srcDir); rmRf(ckpt) }
  }

  /** Best-effort temp-dir cleanup shared by the two-phase (checkpointed)
    * bridges: close the walk stream (fd leak otherwise) and never let a
    * cleanup IOException mask the streaming run's own error. */
  private def rmRf(p: java.nio.file.Path): Unit = try {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
  } catch { case e: java.io.IOException =>
    System.err.println(s"[stream bridge] cleanup of $p failed: $e")
  }

  /** Watermark LATE-DATA DROP semantics under the gate: phase 1 streams the
    * even-id half of events, committing watermark = max(on-time event time,
    * ms-truncated) − 10 min into the checkpoint; phase 2 restarts on that
    * checkpoint and streams the odd-id half, where every row whose 5-min
    * window has closed (window end ≤ the committed watermark) MUST be
    * dropped by the engine — that bounded discard is exactly what makes
    * unbounded streaming aggregation state finite in production. The
    * foreachBatch upsert keeps the latest count per window (Update mode),
    * so the result is on-time counts plus only the late rows the watermark
    * still admits; the DuckDB oracle restates the same keep predicate in
    * batch SQL, making the drop boundary itself hash-checked (off-by-one
    * in the ≤, a µs-vs-ms truncation slip, or a non-carried watermark all
    * fail the gate).
    */
  def lateDropViaStream(s: SparkSession, d: String): DataFrame = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-late-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-late-ckpt")
    try {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"))
      val schema = ev.schema
      val counts = scala.collection.concurrent.TrieMap.empty[Long, Long]
      // child session: state-partition sizing (see StateParts), carried
      // consistently across both checkpointed phases
      val cs = s.newSession()
      StateParts.foreach { case (k, v) => cs.conf.set(k, v) }
      def run(): Unit = {
        val q = cs.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$srcDir/*")
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes").as("win"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("win.start").cast("long").as("wstart"), col("n_events"))
          .writeStream
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.collect().foreach(r => counts(r.getLong(0)) = r.getLong(1))
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$srcDir/on_time")
      run() // watermark from the on-time half commits to the checkpoint
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.parquet(s"$srcDir/late")
      run() // closed windows reject their late rows
      import s.implicits._
      counts.toSeq.toDF("wstart", "n_events").orderBy("wstart")
    } finally { rmRf(srcDir); rmRf(ckpt) }
  }

  /** Complete-mode sorted leaderboard under the gate: the sink holds the
    * per-user ranking the streaming engine maintains (sort-after-agg, the
    * one place streaming sort is legal). rank is derived in the shape
    * (the sink table's order is the streaming result; rank pins it into
    * a checkable column). */
  def leaderboardViaStream(s: SparkSession, d: String): DataFrame =
    runSettled(s, "board", OutputMode.Complete()) { cs =>
      StreamingOps.userLeaderboard(eventsStream(cs, d))
    } {
      _.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_events").desc, col("user_id").asc)))
    }.orderBy("rank")

  /** The foreachBatch sink pattern under the gate: each micro-batch is
    * aggregated to a per-user snapshot and MERGEd into an accumulating
    * store (counts add, latest-event struct takes the greater) — the
    * exact per-batch upsert a production foreachBatch runs against
    * Delta/JDBC. The settled store equals the batch aggregate.
    */
  def foreachUpsertViaStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Row
    val empty = s.createDataFrame(s.sparkContext.emptyRDD[Row],
      StreamingOps.userSnapshot(Tables.events(s, d).limit(0)).schema)
    @volatile var store = empty
    val q = eventsStream(s, d).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        store = StreamingOps.mergeUserSnapshots(
          store, StreamingOps.userSnapshot(batch)).localCheckpoint()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start(): @annotation.nowarn("cat=deprecation")
    try q.awaitTermination() finally q.stop()
    store.select(col("user_id"), col("n_events"),
      col("latest.ts").cast("long").as("last_s"),
      round(col("latest.value"), 2).as("last_value"))
      .orderBy("user_id")
  }

  /** Stream-static INTERVAL enrichment under the gate: streamed event
    * values classified against a static overlapping band table via
    * `IntervalJoin.intervalJoinBucketed` — the composed bucketed form is
    * the streaming-compatible member of the interval family (a custom
    * exec is not streaming-aware; composed builtin ops are, for free).
    * Complete-mode per-band totals equal the batch BETWEEN join.
    */
  def intervalEnrichViaStream(s: SparkSession, d: String): DataFrame = {
    runSettled(s, "ivenrich", OutputMode.Complete()) { cs =>
      val bands = cs.range(25).select(col("id").as("band_id"),
        (col("id").cast("double") * 20).as("lo"),
        (col("id").cast("double") * 20 + 39.99).as("hi"))
      val joined = graft.plans.IntervalJoin.intervalJoinBucketed(
        eventsStream(cs, d).select(col("event_id"), col("value")), bands,
        col("value"), bands("lo"), bands("hi"), width = 20.0)
      joined.groupBy("band_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    } {
      _.select(col("band_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
    }.orderBy("band_id")
  }

  /** Streaming near-dup dedup by SimHash signature: the documents fixture
    * runs twice through the stream (at-least-once redelivery) and every
    * signature must survive exactly once — the in-flight dedup stage of a
    * streaming ingestion pipeline. The signature expression is shared
    * verbatim with the batch dedup_simhash (DedupQueries.simhashCol), so
    * stream and batch can never disagree on what "near-duplicate" means;
    * event time is synthesized from doc_id (documents carry no timestamp)
    * only to give the watermark a column to bound state by. The oracle is
    * the batch distinct-signature set with n_rows pinned to 1, so a
    * dropped-dup failure (n_rows=2) or an over-drop (missing signature)
    * both hash-mismatch.
    */
  def simhashDedupViaStream(s: SparkSession, d: String): DataFrame = {
    runSettled(s, "simdedup", OutputMode.Append()) { cs =>
      val raw = Tables.footerSchema(cs, s"$d/documents.parquet")
      val src = cs.readStream.schema(raw).parquet(s"$d/{documents}.parquet")
      val sigs = src.select(col("doc_id"),
        DedupQueries.simhashCol.as("simhash"))
        .withColumn("ts",
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 600))
      // redelivery synthesized by row duplication AFTER signing (r8): the
      // r7 `sigs.union(sigs)` shape re-scanned the parquet AND re-computed
      // the (dominant-cost) simhash expression for the second copy; one
      // explode delivers the same two copies per document off one pass
      val redelivered = sigs
        .select(col("doc_id"), col("simhash"), col("ts"),
          explode(array(lit(0), lit(1))).as("delivery"))
        .drop("delivery")
      StreamingOps.streamingSimhashDedup(redelivered)
    } {
      _.groupBy(col("simhash")).agg(count(lit(1)).as("n_rows"))
    }.orderBy("simhash")
  }

  /** Per-user running top-3 event values via transformWithState's
    * LISTSTATE handle (stream_transform_state covers ValueState) — O(k)
    * state per key, the streaming leaderboard-per-key shape. Values
    * cent-scaled so the ranking and the oracle compare on exact
    * integers. Single Trigger.Once batch → exactly one emission per
    * user, so the sink rows ARE the final ranking (multi-batch runs
    * would re-emit; the batch oracle pins the converged result either
    * way since ranks are keyed).
    */
  def topkStateViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runSettled(s, "topk", OutputMode.Update(), confs = RocksDbProvider) { cs =>
      val ev = eventsStream(cs, d)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("value_c"),
          col("event_id"))
        .as[StreamingOps.TopEntry]
      StreamingOps.runningTopKTws(ev).toDF()
    } { df => df }
      .orderBy("user_id", "rank")
  }

  /** Event-time timers under the gate: per-user counts that emit ONLY
    * when each key's absolute timer (2024-01-25, mid-fixture) expires.
    * The single data micro-batch processes every event and registers the
    * timers; the watermark then advances past the timer epoch and the
    * trailing no-data micro-batch fires them all — so the multi-batch
    * (`singleBatch = false`) path is load-bearing here, exactly like the
    * outer interval join's eviction batch. Oracle = plain per-user
    * totals: rows can ONLY match if every timer fired exactly once.
    */
  def timerViaStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fireAt = 1706140800000L // 2024-01-25T00:00:00Z, inside the fixture
    runSettled(s, "timer", OutputMode.Append(), singleBatch = false,
      confs = RocksDbProvider) { cs =>
      val ev = eventsStream(cs, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[StreamingOps.Event]
      StreamingOps.timerCounts(ev, fireAt).toDF()
    } { df => df }
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_tws_timers" -> (timerViaStream(_, _)),
    "stream_topk_state" -> (topkStateViaStream(_, _)),
    "stream_simhash_dedup" -> (simhashDedupViaStream(_, _)),
    "stream_interval_enrich" -> (intervalEnrichViaStream(_, _)),
    "stream_leaderboard" -> (leaderboardViaStream(_, _)),
    "stream_foreach_upsert" -> (foreachUpsertViaStream(_, _)),
    "stream_dedup" -> (dedupViaStream(_, _)),
    "stream_recovery" -> (recoveryViaStream(_, _)),
    "stream_late_drop" -> (lateDropViaStream(_, _)),
    "stream_interval_left" -> (intervalLeftViaStream(_, _)),
    "stream_interval_full" -> (intervalFullViaStream(_, _)),
    "stream_enrich_join" -> (enrichJoinViaStream(_, _)),
    "stream_interval_join" -> (intervalJoinViaStream(_, _)),
    "stream_session_starts" -> (sessionStartsViaStream(_, _)),
    "stream_user_totals" -> (userTotalsViaStream(_, _)),
    "stream_transform_state" -> (transformStateViaStream(_, _)),
    "stream_chained_agg" -> (chainedAggViaStream(_, _)),
    "stream_union" -> (unionViaStream(_, _)),
    "stream_available_now" -> (availableNowViaStream(_, _)),
    "stream_events_tumbling" -> (tumblingViaStream(_, _)),
    "stream_events_sliding" -> (slidingViaStream(_, _)),
    "stream_events_session" -> (sessionViaStream(_, _))
  )

  val oracles: Map[String, String] = Map(
    "stream_tws_timers" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(1706140800000 AS BIGINT) AS timer_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_topk_state" ->
      """WITH e AS (SELECT user_id,
        |                  CAST(round(value * 100) AS BIGINT) AS value_c,
        |                  event_id FROM events),
        |r AS (SELECT user_id, value_c, event_id,
        |             CAST(row_number() OVER (PARTITION BY user_id
        |                  ORDER BY value_c DESC, event_id) AS INT) AS rank
        |      FROM e)
        |SELECT user_id, rank, value_c, event_id
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,
    "stream_simhash_dedup" ->
      s"""${DedupQueries.simhashSigSql}
         |SELECT simhash, CAST(1 AS BIGINT) AS n_rows
         |FROM (SELECT DISTINCT simhash FROM signed)
         |ORDER BY simhash""".stripMargin,
    "stream_interval_enrich" ->
      """WITH bands AS (
        |  SELECT b AS band_id, CAST(b AS DOUBLE) * 20 AS lo,
        |         CAST(b AS DOUBLE) * 20 + 39.99 AS hi
        |  FROM (SELECT unnest(range(0, 25)) AS b))
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events JOIN bands ON value BETWEEN lo AND hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "stream_leaderboard" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(row_number() OVER (ORDER BY count(*) DESC, user_id)
        |            AS INT) AS rank
        |FROM events GROUP BY user_id ORDER BY rank""".stripMargin,
    "stream_foreach_upsert" ->
      """WITH l AS (
        |  SELECT user_id, ts, value, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS last_s,
        |       round(value, 2) AS last_value
        |FROM l WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the batch count per user — exact equality is the exactly-once claim
    // (dropped state undercounts, replayed files overcount)
    "stream_recovery" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // keep predicate = the engine's drop rule restated in batch SQL:
    // watermark is the ms-truncated max on-time event time minus 10 min;
    // a late (odd-id) row survives iff its 5-min window end exceeds it
    "stream_late_drop" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS w_us
        |  FROM events WHERE event_id % 2 = 0),
        |kept AS (
        |  SELECT ts FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT e.ts FROM events e, wm
        |  WHERE e.event_id % 2 = 1
        |    AND (floor(epoch(e.ts) / 300) * 300 + 300) * 1000000 > wm.w_us)
        |SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS wstart,
        |       count(*) AS n_events
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_enrich_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_interval_join" ->
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |       CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_s,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
        |       p.value
        |FROM events s
        |JOIN events p ON s.user_id = p.user_id
        |  AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id""".stripMargin,
    "stream_interval_left" ->
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |       CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_s,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
        |       p.value
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'signup' AND user_id % 3 = 0
        |        AND ts < TIMESTAMP '2024-01-28 00:00:00') s
        |LEFT JOIN (SELECT * FROM events
        |           WHERE event_type = 'purchase' AND user_id % 3 = 0) p
        |  ON s.user_id = p.user_id
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id NULLS FIRST""".stripMargin,
    // both unmatched directions, FILTERED by the eviction rule a correct
    // streaming engine enforces — a bounded stream's tail structurally
    // never closes, so the oracle excludes it rather than pretend a
    // stream could emit it. The rule is ASYMMETRIC, derived from the
    // join condition exactly as Spark derives its state watermarks: an
    // unmatched SIGNUP emits once the final watermark (ms-truncated max
    // input event time − 30 min delay, the stream_late_drop discipline)
    // passes its window END (s_ts + 1 h — a future purchase up to that
    // point could still match); an unmatched PURCHASE emits once the
    // watermark passes p_ts itself (signups at-or-before p_ts are the
    // only possible matches, so nothing later can claim it). Verified
    // empirically at all three SFs: the +1h-both-sides guess failed with
    // only-spark rows in (wm−1h, wm). Matched rows emit eagerly and
    // carry no bound.
    "stream_interval_full" ->
      """WITH s AS (SELECT * FROM events
        |           WHERE event_type = 'signup' AND user_id % 3 = 0
        |             AND ts < TIMESTAMP '2024-01-28 00:00:00'),
        |p AS (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id % 3 = 0
        |        AND ts < TIMESTAMP '2024-01-28 00:00:00'),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 1800000) * 1000 AS w_us
        |       FROM (SELECT ts FROM s UNION ALL SELECT ts FROM p)),
        |j AS (
        |  SELECT coalesce(s.user_id, p.user_id) AS user_id,
        |         s.event_id AS signup_id, p.event_id AS purchase_id,
        |         CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_s,
        |         CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
        |         p.value,
        |         epoch_us(CAST(s.ts AS TIMESTAMP)) AS s_us,
        |         epoch_us(CAST(p.ts AS TIMESTAMP)) AS p_us
        |  FROM s FULL JOIN p
        |    ON s.user_id = p.user_id
        |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
        |SELECT user_id, signup_id, purchase_id, signup_s, purchase_s, value
        |FROM j, wm
        |WHERE (signup_id IS NOT NULL AND purchase_id IS NOT NULL)
        |   OR (purchase_id IS NULL AND s_us + 3600000000 < wm.w_us)
        |   OR (signup_id IS NULL AND p_us < wm.w_us)
        |ORDER BY user_id, signup_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    "stream_session_starts" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id))
        |SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS session_start
        |FROM flagged WHERE new_session = 1
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_user_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical oracle to stream_user_totals: transformWithState and
    // mapGroupsWithState must agree with the batch aggregate AND each other
    "stream_transform_state" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical oracle to q_events_tumbling — THAT is the equivalence claim
    // windows strictly closed by the final zero-delay watermark (Spark
    // truncates the watermark to ms; window ends are whole seconds)
    "stream_chained_agg" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) * 1000 AS w_us
        |  FROM events),
        |l1 AS (
        |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
        |         event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l2 AS (
        |  SELECT win_start, CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(sum(cnt) AS BIGINT) AS n_events
        |  FROM l1 GROUP BY 1)
        |SELECT win_start, n_types, n_events
        |FROM l2, wm
        |WHERE (win_start + 600) * 1000000 <= wm.w_us
        |ORDER BY win_start""".stripMargin,
    "stream_events_tumbling" -> EventQueries.oracles("q_events_tumbling"),
    // parity-split union must reassemble the whole table exactly
    "stream_union" -> EventQueries.oracles("q_events_tumbling"),
    // file-split multi-batch totals must equal the one-shot aggregate
    "stream_available_now" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_c
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_events_sliding" -> EventQueries.oracles("q_events_sliding"),
    // the batch sessionization oracle, projected to the streaming shape
    "stream_events_session" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |), numbered AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin
  )
}
