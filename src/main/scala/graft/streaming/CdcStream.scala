package graft.streaming

import graft.Materialize.Ops
import graft.{Merge, Types}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming CDC path — the Spark shape of cdc.py's main loop
  * (SURVEY.md §3.1): change stream → keyed merge state machine →
  * idempotent state sink.
  *
  * Offsets (S2/K6, cdc.py:80-82/105-109/134) are Spark's checkpoint; the
  * per-key Redis hash (rcache.py:224-259) is `GroupState[St]`; annihilation
  * (insert+delete) is `state.remove()` plus an explicit tombstone row so
  * Update-mode sinks can delete downstream (SURVEY.md §7.3 risk 3).
  *
  * Scale: state is partitioned by (table, rid) — the same single shuffle as
  * the batch compact; the state store scales with live keys, not event
  * volume, and the fold is O(batch) per key.
  */
object CdcStream {

  /** Flat change record (concrete payload of the fixture event stream). */
  final case class Ch(table: String, rid: String, cdc_action: String,
      cdc_ts: Long, seq: Long, value: Double, props: String)

  /** Raw file-source stream over the fixture events parquet, with `ts`
    * normalized to epoch nanos (LongType). The stream schema is the file's
    * TRUE resolved schema (taken from a batch read of the same path — a
    * file source needs an explicit schema, and mis-declaring a timestamp
    * column as long would silently hand raw micros downstream); the
    * type-driven normalization is shared with the batch path
    * (CdcBatch.normalizeTs). Single definition for every streaming entry
    * point so fixture/schema changes happen once.
    */
  private def rawEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one footer read per (JVM, fixture dir, file mtime): the two-sided
    // stream-stream entry points build two rawEventStreams per drain, and
    // the fixture's schema is stable within a run. The mtime in the key
    // invalidates the memo when events.parquet is REWRITTEN in the same
    // JVM (fixture regeneration, tests) — a dir-only key would silently
    // stream with the stale schema. One FS metadata call per stream
    // build; stale (dir, oldMtime) entries are dropped so the map stays
    // one live entry per dir.
    val evPath = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val fs = evPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime = fs.getFileStatus(evPath).getModificationTime
    eventSchemaCache.keySet.removeIf(k => k._1 == sfDir && k._2 != mtime)
    val fileSchema = eventSchemaCache.computeIfAbsent((sfDir, mtime),
      _ => spark.read.parquet(s"$sfDir/events.parquet").schema)
    graft.CdcBatch.normalizeTs(
      spark.readStream
        .schema(fileSchema)
        .option("pathGlobFilter", "events.parquet") // file source needs a dir
        .parquet(sfDir))
  }

  private val eventSchemaCache = new java.util.concurrent
    .ConcurrentHashMap[(String, Long), org.apache.spark.sql.types.StructType]()

  /** Streaming changelog from the fixture events parquet. */
  def changeLogStream(spark: SparkSession, sfDir: String): Dataset[Ch] = {
    import spark.implicits._
    rawEventStream(spark, sfDir)
      .select(
        lit("db_test.events").as("table"),
        graft.Rid.rid(Seq("user_id")),
        when(col("event_type") === "signup", Types.Insert)
          .when(col("event_type") === "error", Types.Delete)
          .otherwise(Types.Update).as("cdc_action"),
        expr("ts div 1000000000").as("cdc_ts"),
        col("event_id").as("seq"),
        col("value"), col("props"))
      .as[Ch]
  }

  /** Keyed merge: per (table, rid), fold the batch's seq-sorted changes
    * into the carried state. Emits the new merged row per key per batch —
    * or a `cdc_action='none'` tombstone when the key annihilates.
    */
  def merged(ch: Dataset[Ch]): Dataset[Ch] = merged(ch, tombstoneTtlMs = None)

  /** The shared per-key fold. `state.hasTimedOut` can only be true on the
    * TTL variant below — only tombstones arm a timeout (live keys never
    * call setTimeoutDuration, and Spark clears any armed timeout on every
    * data invocation for the key), so a fired timeout is always a
    * tombstone past the replay horizon: drop it silently — downstream saw
    * the tombstone row when the key annihilated.
    */
  private def mergeFold(arm: Option[GroupState[Ch] => Unit])(
      key: (String, String), it: Iterator[Ch],
      state: GroupState[Ch]): Iterator[Ch] = {
    val (table, rid) = key
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val sorted = it.toArray.sortBy(_.seq)
      val seen = if (state.exists) state.get.seq else Long.MinValue
      var acc: Option[Ch] =
        if (state.exists && state.get.cdc_action != Types.None_)
          Some(state.get)
        else None
      var maxSeq = seen
      for (e <- sorted if e.seq > seen) {
        maxSeq = e.seq
        acc = Merge.mergeAction(acc.map(_.cdc_action), e.cdc_action)
          .map(a => e.copy(cdc_action = a))
      }
      acc match {
        case Some(st) =>
          state.update(st)
          Iterator.single(st)
        case None =>
          // annihilated: KEEP a tombstone in state (not remove) — the
          // tombstone's seq is the replay guard: an at-least-once
          // re-delivery of the dead key's stale changes (seq ≤ seen)
          // must not resurrect it, exactly as the untyped fold path
          // persists tombstones until sweepTombstones ages them out.
          // On the TTL variant, re-arm on EVERY invocation that leaves a
          // tombstone in state — including the pure-stale-replay branch,
          // where the data invocation just cleared the previous arm
          // (re-arming requires a state write first: Spark rejects
          // setTimeoutDuration without one). On the NoTimeout variant
          // the stale branch stays a pure no-op — rewriting an unchanged
          // tombstone row per replayed batch would be state-store commit
          // churn for nothing.
          val stale = maxSeq == seen
          if (stale && !state.exists) Iterator.empty // degenerate: no-op
          else if (stale) {
            arm.foreach { a => state.update(state.get); a(state) }
            Iterator.empty
          } else {
            val tomb = Ch(table, rid, Types.None_, 0L, maxSeq, 0.0, null)
            state.update(tomb)
            arm.foreach(_(state))
            Iterator.single(tomb)
          }
      }
    }
  }

  /** Keyed merge with an optional tombstone replay horizon.
    *
    * `tombstoneTtlMs = None` (the plain [[merged]] overload): NoTimeout —
    * tombstones live for the stream's lifetime. This is the gate/demo
    * surface, whose drains are bounded (AvailableNow / a few test
    * batches), so growth is bounded by the drain, and — decisive —
    * a timeout conf makes FlatMapGroupsWithStateExec report
    * `shouldRunAnotherBatch = true` on every batch, which keeps a
    * ProcessingTime-trigger query running empty batches forever and hangs
    * `processAllAvailable()` (measured: StreamSpec deadlocked when this
    * path defaulted to ProcessingTimeTimeout).
    *
    * `tombstoneTtlMs = Some(ms)`: the standing-stream variant — ages
    * annihilation tombstones out `ms` after their last touch, exactly as
    * the durable path's [[sweepTombstones]] ages its tombstones out at the
    * replayed batch's low-water seq. The at-least-once window the
    * tombstone guards is bounded by the source checkpoint: once offsets
    * past the delete commit, the stale changes that could resurrect the
    * key can never be re-delivered — so a TTL comfortably above the
    * micro-batch replay horizon (minutes, not days) keeps state ≈ live
    * keys under delete churn with the guard intact while it matters.
    * Under this variant the engine schedules batches even without new
    * data, so expired tombstones are swept without a heartbeat.
    */
  def merged(ch: Dataset[Ch], tombstoneTtlMs: Option[Long]): Dataset[Ch] = {
    import ch.sparkSession.implicits._
    val grouped = ch.groupByKey(e => (e.table, e.rid))
    tombstoneTtlMs match {
      case None =>
        grouped.flatMapGroupsWithState[Ch, Ch](
          OutputMode.Update, GroupStateTimeout.NoTimeout)(
          mergeFold(arm = None))
      case Some(ttl) =>
        grouped.flatMapGroupsWithState[Ch, Ch](
          OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
          mergeFold(arm = Some(_.setTimeoutDuration(ttl))))
    }
  }

  /** The keyed merge on Spark 4's `transformWithState` — the THIRD
    * standing-stream answer to tombstone growth, and the cleanest: state
    * splits into two variables, `live` (no TTL — a live key must never
    * be evicted for idleness) and `tomb` (native per-variable TTL —
    * exactly the knob transformWithState adds over
    * flatMapGroupsWithState), so annihilation tombstones age out at the
    * replay horizon via the state store's OWN TTL machinery: expired
    * values vanish on read and are reclaimed by store maintenance, with
    * no timers registered and none of the timeout bookkeeping the fMGWS
    * TTL variant needs (per-invocation re-arming, hasTimedOut plumbing).
    * Fold semantics are IDENTICAL to [[merged]] — same emissions, same
    * replay guard within the horizon (the spec pins parity batch by
    * batch).
    *
    * TimeMode is ProcessingTime (TTL requires it), which — like the
    * fMGWS timeout conf — makes the engine schedule batches
    * continuously; measured: an AvailableNow drain of this operator
    * does NOT terminate (the engine keeps scheduling batches after the
    * data is exhausted), so bounded drains must keep using [[merged]]'s
    * default NoTimeout form — this variant is for genuinely standing
    * streams stopped by their owner.
    */
  def mergedTws(ch: Dataset[Ch], tombstoneTtl: java.time.Duration)
      : Dataset[Ch] = {
    import ch.sparkSession.implicits._
    ch.groupByKey(e => (e.table, e.rid))
      .transformWithState(new MergeProcessor(tombstoneTtl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  class MergeProcessor(tombstoneTtl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, String), Ch, Ch] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var live:
      org.apache.spark.sql.streaming.ValueState[Ch] = _
    @transient private var tomb:
      org.apache.spark.sql.streaming.ValueState[Ch] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      live = getHandle.getValueState[Ch]("live", E.product[Ch],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      tomb = getHandle.getValueState[Ch]("tomb", E.product[Ch],
        org.apache.spark.sql.streaming.TTLConfig(tombstoneTtl))
    }

    override def handleInputRows(key: (String, String), rows: Iterator[Ch],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Ch] = {
      val (table, rid) = key
      val sorted = rows.toArray.sortBy(_.seq)
      // the guard seq comes from whichever variable holds the key: a
      // live row, or a not-yet-expired tombstone (an EXPIRED tombstone
      // reads as absent — precisely the aging-out semantics)
      val prior = Option(live.get()).orElse(Option(tomb.get()))
      val seen = prior.map(_.seq).getOrElse(Long.MinValue)
      var acc: Option[Ch] = prior.filter(_.cdc_action != Types.None_)
      var maxSeq = seen
      for (e <- sorted if e.seq > seen) {
        maxSeq = e.seq
        acc = Merge.mergeAction(acc.map(_.cdc_action), e.cdc_action)
          .map(a => e.copy(cdc_action = a))
      }
      acc match {
        case Some(st) =>
          live.update(st)
          tomb.clear()
          Iterator.single(st)
        case None =>
          val stale = maxSeq == seen
          if (stale && prior.isEmpty) Iterator.empty // degenerate no-op
          else {
            val t = Ch(table, rid, Types.None_, 0L, maxSeq, 0.0, null)
            live.clear()
            // write (or refresh, on stale replays) the tombstone — each
            // touch restarts its TTL, mirroring the fMGWS re-arm
            tomb.update(if (stale) prior.get else t)
            if (stale) Iterator.empty else Iterator.single(t)
          }
      }
    }
  }

  /** Run the stream to completion (AvailableNow) through a parquet update
    * ledger and return the final compacted snapshot — streaming/batch
    * parity surface used by the `cdc_compact_stream` driver query.
    */
  def compactStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // the update ledger is O(live keys × batches) — data-sized at scale:
    // drain through the parquet ledger (update mode → per-batch append),
    // never a memory sink (guide §5)
    val updates = drainToParquet(s,
      merged(changeLogStream(s, sfDir)).toDF(), mode = "update")
    // collapse multi-batch updates: last update per key wins, drop tombstones
    Merge.latestPerKey(updates, Seq("table", "rid"), "seq")
      .filter(col("cdc_action") =!= Types.None_)
      .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value", "props")
  }

  /** [[compactStreamed]] on the transformWithState merge ([[mergedTws]]) —
    * the bounded OBSERVABLE drain the TWS variant needs (r16 verdict #6).
    * TimeMode.ProcessingTime makes the engine schedule batches forever, so
    * `Trigger.AvailableNow` never terminates and `processAllAvailable`
    * hangs; this drain instead runs a ProcessingTime trigger and polls the
    * query's progress until every input row has been processed — all data
    * is on disk before the stream starts, so cumulative `numInputRows`
    * reaching the batch count of the same file IS quiescence (a progress
    * event fires only after its batch, sink commit included) — then stops
    * the query. Cumulative count is accumulated by batchId, immune to
    * `recentProgress`'s bounded retention. Wired into the oracle gate as
    * `cdc_compact_stream_tws` with the SAME oracle as `cdc_compact_stream`,
    * so the third tombstone strategy carries the same evidence grade as
    * the fMGWS NoTimeout and ProcessingTimeTimeout forms.
    */
  def compactStreamedTws(spark: SparkSession, sfDir: String,
      tombstoneTtl: java.time.Duration = java.time.Duration.ofDays(1),
      deadlineMs: Long = 120000L): DataFrame = {
    val s = stateScopedSession(spark)
    useRocksDBStateStore(s) // transformWithState needs the RocksDB provider
    // no-data micro-batches buy nothing here (the TWS tomb TTL is
    // enforced by the state store's TTL config at access time, not by
    // timer batches) and each one costs a full state commit — the r18
    // restart profile showed ~1.4 s replaying an empty batch. Scoped to
    // this gate session; fMGWS TTL gates keep the default (their
    // ProcessingTimeTimeout eviction DOES fire on no-data batches).
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val expected = s.read.parquet(s"$sfDir/events.parquet").count()
    // the update ledger is O(live keys × batches) — data-sized at scale:
    // land each batch in a parquet ledger via foreachBatch (drainToParquet
    // cannot serve here — its AvailableNow trigger never terminates under
    // TimeMode.ProcessingTime, hence the polling drain), then reduce the
    // read-back. The driver holds file paths, never rows (guide §5).
    val root = java.nio.file.Files.createTempDirectory("graft_tws").toString
    val outDir = s"$root/out"
    val merged0 = mergedTws(changeLogStream(s, sfDir), tombstoneTtl).toDF()
    // seed the out dir so a zero-row drain still reads back as empty
    s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], merged0.schema)
      .write.mode("overwrite").parquet(outDir)
    try {
      val q = merged0.writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.ProcessingTime(50))
        .start()
      try drainTws(q, expected, deadlineMs) finally q.stop()
      Merge.latestPerKey(
          s.read.schema(merged0.schema).parquet(outDir),
          Seq("table", "rid"), "seq")
        .filter(col("cdc_action") =!= Types.None_)
        .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value", "props")
        .materializeForced() // the temp ledger is deleted in the finally
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  /** Bounded observable drain for a TimeMode.ProcessingTime query (TWS
    * schedules batches forever, so `Trigger.AvailableNow` never
    * terminates and `processAllAvailable` hangs): poll cumulative
    * `numInputRows` by batchId — immune to `recentProgress`'s bounded
    * retention — until it reaches `expected` (all data is on disk before
    * the stream starts, and a progress event fires only after its batch,
    * sink commit included, so reaching the count IS quiescence). The
    * caller owns `q.stop()`. A failed query surfaces its real error
    * immediately instead of spinning the deadline. */
  private[graft] def drainTws(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      expected: Long, deadlineMs: Long): Unit = {
    val end = System.nanoTime() + deadlineMs * 1000000L
    val perBatch = scala.collection.mutable.Map.empty[Long, Long]
    var total = 0L
    while (total < expected && System.nanoTime() < end) {
      q.exception.foreach(e => throw e)
      Thread.sleep(100)
      for (p <- q.recentProgress) perBatch(p.batchId) = p.numInputRows
      total = perBatch.values.sum
    }
    q.exception.foreach(e => throw e)
    if (total < expected) throw new IllegalStateException(
      s"CdcStream.drainTws: drain did not quiesce — " +
        s"$total of $expected input rows processed in ${deadlineMs} ms")
  }

  /** Tumbling-window aggregation run AS A STREAM to completion
    * (AvailableNow) — the streaming twin of the q17 batch windows, wired
    * into the oracle gate as `cdc_stream_windowed`. Complete output mode
    * emits every window's final state at termination, so the result equals
    * the batch aggregation the oracle computes — and because complete mode
    * retains all window state, NO watermark is declared (one would be
    * inert here; a standing update/append deployment adds one and accepts
    * that rows later than the delay are dropped relative to this batch
    * semantics). At scale this is the standing micro-batch job; the
    * memory sink stands in for the real one (window count is bounded by
    * the time range, not event volume).
    */
  def windowedStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    val name = "evt_win_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = rawEventStream(s, sfDir)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ets"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sv"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .select(col("w.start").cast("long").as("day_start"), col("event_type"),
        col("n_events"), round(col("sv"), 2).as("sum_value"))
  }

  /** §2.8 ext: the APPEND-MODE twin of [[windowedStreamed]] — the form a
    * standing deployment runs. Complete mode re-emits every window each
    * trigger and retains all window state forever; append mode + a
    * watermark emits each window EXACTLY ONCE, when the watermark passes
    * its end (the window is then provably complete), and evicts its state
    * — output and state both bounded by the watermark horizon. The cost
    * is the tail: windows still inside the horizon at drain end are NOT
    * emitted (they are not complete). The oracle states that boundary
    * exactly — the batch aggregate restricted to windows whose end ≤
    * max(event time) − delay — so the hash gate pins both the
    * finalization rule and the no-data batch that flushes it (the final
    * AvailableNow micro-batch emits windows closed by the last watermark
    * advance; without it the drain would end with zero rows).
    */
  def windowedAppendStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    val name = "evt_winA_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = rawEventStream(s, sfDir)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 day")
      .groupBy(window(col("ets"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sv"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .select(col("w.start").cast("long").as("day_start"), col("event_type"),
        col("n_events"), round(col("sv"), 2).as("sum_value"))
  }

  /** §2.8: exactly-once event dedup AS A STREAM — `dropDuplicates` on the
    * binlog position. The at-least-once condition is synthesized by
    * unioning the source with itself (every event arrives twice); the
    * dedup state must emit each event_id exactly once, so the downstream
    * aggregate equals the single-copy batch aggregate (the oracle).
    *
    * Scale notes: dedup state is one entry per key — a standing deployment
    * declares a watermark on the event time so state is bounded by the
    * reorder window instead of the stream's lifetime, and uses the RocksDB
    * provider ([[useRocksDBStateStore]]) when the keyed window exceeds
    * heap. AvailableNow keeps this run finite, so no watermark is declared
    * (batch-equivalence is exact, not watermark-truncated).
    */
  def dedupStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // project BEFORE the stateful op (guide §2.3): the dedup state key is
    // event_id and the downstream aggregate reads only these three
    // columns — the other event fields would just fatten the state rows
    // and the drained ledger. Both copies of a duplicated event_id are
    // identical, so "first wins" is value-invariant.
    def src(): DataFrame = rawEventStream(s, sfDir)
      .select("event_type", "event_id", "value")
    // the deduped ledger is O(distinct event_id) = data-sized: drain it
    // through the parquet sink (guide §5 — the r12/r13 join-ledger
    // discipline), never a memory sink, so the driver holds file paths
    // instead of a data-sized result
    drainToParquet(s, src().union(src()).dropDuplicates("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** §2.8 ext: streaming TRENDING — top-k users by activity per CLOSED
    * tumbling window. The scale-correct split mirrors [[asofJoinStreamed]]:
    * the stream side is the append-mode windowed count (state ≈ open
    * windows, each (window, user) emitted exactly once at finalization),
    * and the rank is a batch window over the drained O(windows × users)
    * aggregate — ranking inside the stream would need non-monotone
    * retractions (a later count can demote an earlier leader), which
    * append semantics rightly cannot express. Ties break by user_id
    * (oracle states the same order).
    */
  def topkStreamed(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val s = stateScopedSession(spark)
    // the windowed count is O(windows × users) — grows with the corpus:
    // parquet drain, then the batch rank over the drained aggregate (§5)
    val counts = drainToParquet(s,
      rawEventStream(s, sfDir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "1 day")
        .groupBy(window(col("ets"), "1 day").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events")))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("day_start")
      .orderBy(col("n_events").desc, col("user_id"))
    counts
      .select(col("w.start").cast("long").as("day_start"),
        col("user_id"), col("n_events"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= k)
  }

  /** §2.8: gap-based sessionization AS A STREAM — `session_window` with a
    * 1-hour gap per user, run to completion (complete mode emits every
    * session's final extent). Boundary semantics are exact-microsecond: an
    * event merges iff its timestamp is STRICTLY inside the previous
    * session's end (= last event + gap), which the oracle mirrors as
    * `gap >= 3600·10⁶ µs starts a new session` over the lag-sorted batch.
    * The batch twin is q23_sessions; this puts the streaming session-state
    * machinery (merging windows across micro-batches) under the hash gate.
    */
  def sessionStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // the session table is O(users × sessions) — data-sized: drain via
    // the parquet ledger (complete mode → per-batch snapshot overwrite),
    // not a driver-memory sink (guide §5)
    drainToParquet(s,
      rawEventStream(s, sfDir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(session_window(col("ets"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sv")),
      mode = "complete")
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start"),
        unix_micros(col("w.end")).as("session_end"),
        col("n_events"), round(col("sv"), 2).as("sum_value"))
  }

  /** §2.8 ext: [[burstAlertsStreamed]] WARM-STARTED — the batch-bootstrap
    * → stream-continue shape under the hash gate: history (errors up to
    * the fixture's midpoint event time) is folded OFFLINE into per-user
    * warm state (the in-window stamps as of each user's last historical
    * error), the stream runs only the tail, and the alert set past the
    * cutoff must equal the full-history run's — which is exactly the
    * batch RANGE-window oracle restricted to ts > cutoff. This puts
    * `StatefulProcessorWithInitialState` itself under the oracle: a
    * wrong seed (missed stamp, unpruned stamp, missed key) shifts alert
    * counts and breaks the hash.
    */
  def burstAlertsWarmStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    useRocksDBStateStore(s)
    import s.implicits._
    val W = 21600L * 1000000L
    val errs = graft.CdcBatch.readEvents(s, sfDir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    // the cutoff is data-derived (midpoint of the error time range) so
    // the oracle can state it in SQL
    val cutRow = errs.agg(
      ((min("ts_us") + max("ts_us")) / 2).cast("long")).head()
    if (cutRow.isNullAt(0)) {
      // no error events at all: zero alerts, not an NPE — keep the
      // output schema of the streamed path
      return s.createDataFrame(s.sparkContext.emptyRDD[
          org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts_us",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_window",
            org.apache.spark.sql.types.LongType))))
    }
    val cut = cutRow.getLong(0)
    // batch bootstrap: each user's in-window stamps as of their last
    // historical error — the exact state a full run would hold at cutoff
    val warm = errs.filter(col("ts_us") <= cut)
      .withColumn("last", max("ts_us").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("ts_us") >= col("last") - lit(W))
      .groupBy("user_id")
      .agg(sort_array(collect_list("ts_us")).as("stamps"))
      .as[BurstDetect.WarmState]
    // the stream delivers only the tail
    val tail = rawEventStream(s, sfDir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      .filter(col("ts_us") > cut)
      .as[BurstDetect.ErrEvent]
    // O(alerts) ledger → parquet drain, not driver memory (§5)
    drainToParquet(s,
      BurstDetect.alertsWarmStarted(tail, warm, W, minCount = 2).toDF())
      .select("user_id", "ts_us", "n_window")
  }

  /** OFFLINE state introspection — the state-store READER every standing
    * deployment needs for debugging and audits: run the merge state
    * machine to completion with a persistent checkpoint, then read the
    * state store FILES directly through Spark 4's `statestore` data
    * source (no running query, no sink replay — the store itself is the
    * table). The [[merged]] fold keeps every live (table, rid) row plus
    * a `cdc_action='none'` tombstone per annihilated key (the replay
    * guard); the inspector FILTERS the tombstones, so the offline read
    * equals the batch compact — which is what the
    * `cdc_state_inspect` gate query hash-proves against the same oracle
    * `cdc_compact` uses. At 100 TB this read is a partitioned scan of
    * the store's files (one task per state partition), the same shape as
    * any other source; it is how an operator answers "what does the
    * stream believe right now" without touching the running job.
    *
    * `ckptDir`: the query's checkpoint root (shared storage in a
    * deployment; the gate wiring stages a local one and deletes it —
    * the result is materialized first, severing lineage).
    */
  def stateInspect(spark: SparkSession, sfDir: String,
      ckptDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // the sink output is never read — the RESULT is the state-store files
    // below. A memory sink would accumulate every update row in driver
    // memory just to discard it; the noop sink computes and drops them
    // executor-side (guide §1.4/§5).
    val q = merged(changeLogStream(s, sfDir)).writeStream
      .format("noop")
      .outputMode("update")
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // fMGWS persists the user state under a `groupState` struct field
    val st = col("value.groupState")
    s.read.format("statestore").option("path", ckptDir).load()
      .select(st.getField("table").as("table"), st.getField("rid").as("rid"),
        st.getField("cdc_action").as("cdc_action"),
        st.getField("seq").as("seq"), st.getField("cdc_ts").as("cdc_ts"),
        st.getField("value").as("value"), st.getField("props").as("props"))
      // annihilation tombstones are replay guards, not live rows
      .filter(col("cdc_action") =!= Types.None_)
  }

  /** §2.8 ext: the APPEND-MODE twin of [[sessionStreamed]] — the standing
    * deployment's form: with a watermark, each session is emitted EXACTLY
    * ONCE, when the watermark passes its end (last event + gap; the
    * session is then provably un-mergeable — no in-watermark event can
    * extend it), and its state is evicted. Complete mode re-emits every
    * session each trigger and keeps all of them forever; append mode
    * bounds both output and state by the watermark horizon. The cost is
    * the tail: sessions whose end is still inside the horizon at drain
    * end are NOT emitted. The oracle states that boundary exactly — the
    * gap-split batch sessions restricted to session_end < max(event
    * time) − delay — so the hash gate pins the finalization rule and the
    * final no-data batch that flushes it.
    */
  def sessionAppendStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // O(users × sessions) ledger → parquet drain, not driver memory (§5)
    drainToParquet(s,
      rawEventStream(s, sfDir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "1 hour")
        .groupBy(session_window(col("ets"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sv")))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start"),
        unix_micros(col("w.end")).as("session_end"),
        col("n_events"), round(col("sv"), 2).as("sum_value"))
  }

  /** §2.8: stream-static dimension enrichment — the event stream joined per
    * micro-batch against a STATIC dimension table (the cache-join shape
    * every CDC consumer runs: stamp each change with the owning entity's
    * attributes). The dim is a plain batch read on the stream's plan, so
    * Spark broadcasts it per micro-batch — no stream-side shuffle, and a
    * slowly-changing dim picks up updates at the next batch without a
    * restart. Dimension gaps are synthesized (every 7th key dropped) to
    * prove left-join semantics survive the streaming path; the oracle is
    * the equivalent batch left join.
    */
  def enrichStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    // the enriched ledger is one row per EVENT — O(data): drain through
    // the parquet sink (guide §5), never a memory sink. Stateless gate,
    // so the main session's shuffle width is fine (broadcast join, no
    // exchange on the stream side).
    drainToParquet(spark,
      rawEventStream(spark, sfDir)
        .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
        .select(col("event_type"),
          coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
          col("value")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** §2.8 ext: the STATE-BOUNDED twin of [[dedupStreamed]] —
    * `dropDuplicatesWithinWatermark` keeps a dedup entry only until the
    * watermark passes its event time + delay, so state tracks the reorder
    * window instead of the stream's lifetime. This is the form a standing
    * 100 TB deployment actually runs (the unbounded `dropDuplicates` twin
    * exists for exact replay semantics over finite drains); the trade is
    * explicit: a duplicate arriving LATER than the delay after its first
    * copy is re-emitted. The gate drains the doubled source with
    * AvailableNow — every duplicate arrives within the window, so the
    * downstream aggregate still equals the single-copy batch oracle, and
    * `DedupWithinWatermarkSpec` pins the state bound + the re-emission
    * trade the oracle cannot see.
    */
  def dedupWithinWatermarkStreamed(
      spark: SparkSession, sfDir: String): DataFrame = {
    val scoped = stateScopedSession(spark)
    // project before the stateful op (§2.3): the watermark column plus
    // exactly what the aggregate reads — then drop the scaffold `ets`
    // before the drain so the ledger carries only consumed columns
    def src(): DataFrame = rawEventStream(scoped, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
    val deduped = src().union(src())
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_type", "event_id", "value")
    // O(distinct event_id) ledger → parquet drain, not driver memory
    drainToParquet(scoped, deduped)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_ids"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** §2.8 extension: STREAM-STREAM interval join run to completion — both
    * sides of the join arrive as streams (two independent readers of the
    * event log), matched on entity key within an event-time window: each
    * `error` event pairs with the same user's non-error activity in the
    * preceding 6 hours (the incident-context correlation every on-call
    * pipeline runs). This is the join class [[enrichStreamed]] cannot
    * express — the right side is not a static dimension but a stream
    * buffered in watermark-bounded join state. Oracle = the equivalent
    * batch interval self-join; the fixture stages as one file → one
    * micro-batch, so no row is late relative to the initial watermark and
    * the inner-join result is exactly the batch identity (cross-batch
    * matching and late-drop semantics are pinned in `StreamJoinSpec`).
    */
  def intervalJoinStreamed(spark: SparkSession, sfDir: String): DataFrame =
    errCtxIntervalJoin(spark, sfDir, "inner")

  /** Shared body of the three stream-stream join gate forms: errors ⋈
    * same-user non-error activity in the preceding 6 h, drained through
    * the parquet ledger sink. The join TYPE is the only degree of
    * freedom — inner (batch identity), left_outer (unmatched errors
    * surface past their horizon), full_outer (unmatched context rows
    * surface past the mirrored horizon too).
    */
  private def errCtxIntervalJoin(
      spark: SparkSession, sfDir: String, joinType: String,
      keepCtxTs: Boolean = false): DataFrame = {
    val s = stateScopedSession(spark)
    // INNER stream-stream joins emit every result eagerly inside the
    // data batches — the trailing no-data micro-batch AvailableNow runs
    // exists only to advance the watermark and EVICT state, which
    // changes no inner output but costs a full 4-store state commit
    // (~1 s measured at sf0.1: batch-1 rows=0, commitTimeMs ≈ 3 s
    // summed). Skip it for inner. The OUTER forms keep the default:
    // their null-padded rows are emitted BY that watermark-closing
    // batch — skipping it would drop the unmatched half of the result.
    if (joinType == "inner")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    def side(): DataFrame = rawEventStream(s, sfDir)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
    val errors = side().filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ets").as("err_ts"))
    val ctx = side().filter(col("event_type") =!= "error")
      .select(col("event_id").as("ctx_id"), col("user_id").as("ctx_user"),
        col("event_type").as("ctx_type"), col("ets").as("ctx_ts"))
    val cols = Seq("err_id", "ctx_id", "ctx_type") ++
      (if (keepCtxTs) Seq("ctx_ts") else Nil)
    drainToParquet(s,
      StreamJoin.intervalJoin(errors, ctx,
        leftKey = "err_user", rightKey = "ctx_user",
        leftTs = "err_ts", rightTs = "ctx_ts",
        lowerSec = 21600L, upperSec = 0L, watermarkDelay = "1 hour",
        joinType = joinType)
        .select(cols.head, cols.tail: _*))
  }

  /** §2.8 ext: the streaming AS-OF join — each error paired with the
    * SINGLE most recent same-user context event in the preceding 6 h
    * (the batch q18 semantics, fed by streams). Structured Streaming has
    * no native as-of operator; the scale-correct composition is the
    * watermark-bounded interval join (state ≈ one window per key)
    * drained to the ledger, then latest-per-key on the O(matches) ledger
    * — a BATCH reduction over the sink, not more stream state. Ties on
    * ctx_ts break by ctx_id (the oracle states the same order).
    */
  def asofJoinStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val ledger = errCtxIntervalJoin(spark, sfDir, "inner", keepCtxTs = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("err_id")
      .orderBy(col("ctx_ts").desc, col("ctx_id").desc)
    ledger.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("err_id"), col("ctx_id"), col("ctx_type"),
        unix_micros(col("ctx_ts")).as("ctx_tus"))
  }

  /** A cloned session whose shuffle-partition count sizes the STATE
    * geometry of the stateful query started on it — for a stream-stream
    * join that count fixes 4 state-store instances per partition per
    * side for the life of the checkpoint, each paying per-batch delta +
    * maintenance I/O whether or not it holds rows. The right number
    * tracks expected STATE volume (keys × window density — watermark-
    * bounded, so orders of magnitude below input size), not input
    * parallelism: the gate fixture's state is thousands of rows, so the
    * default is deliberately small; a 100 TB deployment raises
    * `spark.graft.statePartitions` into the hundreds. Batch queries on
    * the main session keep their own shuffle width — the clone scopes
    * the knob to the one stream started on it.
    */
  private[graft] def stateScopedSession(spark: SparkSession): SparkSession = {
    val n = spark.conf.getOption("spark.graft.statePartitions")
      .map(_.toInt).getOrElse(8)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", n)
    s
  }

  /** Drain a streaming result through a PARQUET sink and hand back the
    * materialized read-back — the join ledger is O(matches), so a memory
    * sink would put the one unbounded result of the streaming family in
    * driver memory; through this path the driver holds file paths only
    * (the r12/r13 sink discipline).
    *
    * `workDir` is the drain's working root on storage EVERY executor can
    * reach (hdfs://, s3a://, a cluster-mounted path), resolved through
    * the Hadoop FS API; it holds the sink (`<workDir>/out`) and the
    * checkpoint (`<workDir>/ckpt`). On a real cluster the parameter is
    * REQUIRED — with `workDir = None` the drain falls back to a
    * driver-local temp dir that remote executors cannot see, so the
    * fallback refuses to run on a non-local master. An explicit workDir
    * is caller-owned: `<workDir>/out` is left in place as the run's
    * durable ledger (the checkpoint too, for restart forensics). The
    * temp fallback cleans up after itself — the result is materialized
    * (lineage severed) and the root deleted before returning.
    */
  private[graft] def drainToParquet(
      spark: SparkSession, result: DataFrame,
      workDir: Option[String] = None,
      mode: String = "append"): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(workDir.isDefined || spark.sparkContext.isLocal,
      "drainToParquet: the default workDir puts the sink and checkpoint " +
        "on the DRIVER's local disk, which executors on a non-local " +
        "master cannot reach — pass workDir on shared storage " +
        "(hdfs://, s3a://, cluster mount)")
    val root = new Path(workDir.getOrElse(java.nio.file.Files
      .createTempDirectory("graft_ssj").toString))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def drained(): DataFrame = {
      val outPath = new Path(root, "out").toString
      val base = result.writeStream
        .option("checkpointLocation", new Path(root, "ckpt").toString)
        .outputMode(mode).trigger(Trigger.AvailableNow())
      val q = mode match {
        // append: the native parquet streaming sink (exactly-once via its
        // own file-manifest log)
        case "append" => base.format("parquet").option("path", outPath).start()
        // update/complete: the parquet sink cannot express them — land
        // each batch via foreachBatch (update appends the batch's update
        // rows, exactly the rows a memory sink would accumulate; complete
        // overwrites with the batch's full snapshot, the memory sink's
        // replace semantics). These gate drains are bounded AvailableNow
        // runs; a standing deployment keys on batchId for replay dedup.
        case "update" =>
          // seed the out dir so a drain whose batches all carried zero
          // rows still reads back as an empty frame of the right schema
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              result.schema)
            .write.mode("overwrite").parquet(outPath)
          base.foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.write.mode("append").parquet(outPath); ()
          }.start()
        case "complete" =>
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              result.schema)
            .write.mode("overwrite").parquet(outPath)
          base.foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.write.mode("overwrite").parquet(outPath); ()
          }.start()
        case other => throw new IllegalArgumentException(
          s"drainToParquet: unsupported output mode '$other'")
      }
      q.awaitTermination()
      // read back with the stream's OWN schema: no footer inference, so
      // a drain that committed zero rows (a legitimately empty join
      // result) reads as an empty frame instead of crashing on
      // "unable to infer schema"
      spark.read.schema(result.schema).parquet(outPath)
    }
    if (workDir.isDefined) drained()
    else {
      // temp fallback: materializeForced severs lineage from the dir
      // before it is deleted — repeated gate invocations must not leak
      // /tmp dirs holding the full join ledger, INCLUDING when the drain
      // itself throws (hence the finally)
      try drained().materializeForced()
      finally { fs.delete(root, true): Unit }
    }
  }

  /** §2.8 ext: the LEFT-OUTER form of [[intervalJoinStreamed]] — errors
    * with NO same-user activity in the window must still appear,
    * null-padded (the alert shape: an error with no context is itself the
    * signal). Outer emission is watermark-gated: an unmatched left row
    * emits only once no in-watermark right row could still match —
    * `l.ts + upper < wm`, where wm is the query's FINAL watermark: the
    * MIN across the two inputs' (max event time − delay), Spark's
    * default multipleWatermarkPolicy. The errors side's max event time
    * lags the context side's in the fixture, so it governs — the oracle
    * states exactly that rule (verified row-exact at sf0.001/0.01/0.1;
    * a max-over-ALL-events watermark was off by precisely the boundary
    * rows, 1 at sf0.001 and 26 at sf0.1). The hash gate thus pins the
    * finalization rule, the min-policy watermark source, the final
    * no-data batch that flushes it, and the tail exclusion (errors too
    * close to stream end are NOT emitted — their absence is unproven).
    */
  def intervalJoinOuterStreamed(
      spark: SparkSession, sfDir: String): DataFrame =
    errCtxIntervalJoin(spark, sfDir, "left_outer")

  /** §2.8 ext: the FULL-OUTER form — BOTH sides' unmatched rows surface
    * null-padded, each once its own horizon is provably empty against
    * the SAME final watermark (the min-policy wm of
    * [[intervalJoinOuterStreamed]]): the left side once
    * `l.ts + upper < wm` (no future right row can reach it), the right
    * side once `r.ts + lower < wm` (no future left row can reach back —
    * the interval's other bound). The oracle states both horizons
    * exactly, so the hash gate pins the two finalization rules, their
    * asymmetry (upper vs lower), and the tail exclusions on both sides
    * — verified row-exact at three SFs.
    */
  def intervalJoinFullStreamed(
      spark: SparkSession, sfDir: String): DataFrame =
    errCtxIntervalJoin(spark, sfDir, "full_outer")

  /** §2.8 ext: per-user error-burst alerts run as a stream to completion
    * — [[BurstDetect]] on `transformWithState`, the Spark 4 arbitrary-
    * state API (typed state variables + TTL + timers; the successor of
    * the fMGWS machinery [[Quota]] and the session fold use). An alert
    * fires for every error that is the 2nd-or-later error of its user
    * within the trailing 6 h of event time; the oracle is the DuckDB
    * RANGE-frame window count the operator's semantics mirror exactly.
    * One file → one micro-batch, so the ordered-feed precondition holds
    * trivially; `BurstDetectSpec` pins cross-batch state carry, pruning,
    * and the out-of-order fail-fast the gate cannot see.
    */
  def burstAlertsStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateScopedSession(spark)
    // transformWithState keeps each state variable in its own column
    // family — a RocksDB-provider feature (the HDFS-backed provider is
    // single-family). Session-scoped: the clone's conf dies with it.
    useRocksDBStateStore(s)
    import s.implicits._
    val errors = rawEventStream(s, sfDir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      .as[BurstDetect.ErrEvent]
    // the alert ledger is O(bursting errors) — data-sized in the worst
    // case: parquet drain, not driver memory (§5)
    drainToParquet(s,
      BurstDetect.alerts(errors, windowUs = 21600L * 1000000L,
        minCount = 2).toDF())
      .select("user_id", "ts_us", "n_window")
  }

  /** Keep streaming merge state in RocksDB instead of the default on-heap
    * HashMap provider. The merge state is one entry per live (table, rid)
    * key — at 100 TB key counts that exceeds executor heap; RocksDB spills
    * to local SSD and bounds memory via block cache, with incremental
    * changelog checkpointing. Session-level: affects queries started after
    * this call.
    */
  def useRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing (SPARK-45371): commit uploads the batch's
    // CHANGELOG and snapshots consolidate in the background, instead of a
    // full RocksDB snapshot upload inside every commit — at production
    // state volumes that is O(batch) vs O(state) per-commit I/O, the
    // difference between a standing sink that keeps up and one that
    // doesn't. At SMALL state the trade inverts: the snapshot IS tiny, and
    // the changelog path pays a second write stream plus changelog replay
    // on every load — r19 same-window A/B at sf0.1: cdc_compact_stream_tws
    // 3.38 s with changelogs vs 2.32 s with direct snapshots,
    // cdc_state_sink_tws 6.05 vs 5.34 (r18 had shipped it unconditionally
    // on an isolated −20% that the driver's battery then contradicted).
    // So the knob is state-volume-scale-dependent and parameterised like
    // spark.graft.statePartitions: default OFF (the measured local/bench
    // geometry), set spark.graft.rocksdb.changelog=true in deployments
    // whose per-partition state dwarfs a micro-batch (DEPLOY.md).
    // Format-compatible both ways across restarts; never a results change.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      spark.conf.getOption("spark.graft.rocksdb.changelog")
        .getOrElse("false"))
  }

  /** Production sink shape: per micro-batch, upsert the merged updates into
    * a parquet state dir hash-partitioned by key bucket, rewriting ONLY the
    * buckets the batch touches (dynamic partition overwrite). I/O per batch
    * is O(touched-bucket rows + batch), not O(state) — at 100 TB state the
    * untouched 99.9% of the table is never read or written. A table format
    * with MERGE INTO is the managed equivalent; this is the same partition-
    * level replace done directly on parquet.
    *
    * Idempotent under micro-batch replay (checkpoint recovery): the
    * anti-join + union per bucket converges to the same contents.
    */
  def run(spark: SparkSession, source: Dataset[Ch], stateDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    merged(source).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      // the reference's blocking tail mode (cdc.py:19-25,100) is a standing
      // ProcessingTime deployment — the default here; AvailableNow gives
      // the run-to-completion parity mode (StandingStreamSpec pins the
      // standing shape against live file drops)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Ch], _: Long) =>
        // preDeduped: flatMapGroupsWithState invokes the fold once per
        // key per micro-batch and mergeFold emits ≤ 1 row from it, so
        // the batch can never carry two rows of one (table, rid) — the
        // latest-per-key window (a full exchange + per-key sort of the
        // batch, every micro-batch) would re-derive what the operator
        // already guarantees (MergeSpec pins the ≤1-row-per-key-per-
        // batch invariant; optimization guide §2.4).
        upsertBatch(batch.toDF(), stateDir, nBuckets, preDeduped = true)
      }
      .start()

  /** [[run]] on the transformWithState merge ([[mergedTws]]) — the THIRD
    * tombstone strategy wired through the SAME production foreachBatch
    * bucket sink (r17 verdict #4: sink+restart evidence, not just drain
    * evidence). Per micro-batch the emitted updates upsert into the
    * bucketed parquet state dir exactly as [[run]]'s fMGWS form does;
    * `none` tombstones remove the stored row (the checkpointed RocksDB
    * state — live + TTL'd tomb column families — carries the replay
    * guard, so the sink holds live rows only, same contract as the typed
    * path). The caller must have enabled the RocksDB provider
    * ([[useRocksDBStateStore]]) and must drain with [[drainTws]]:
    * TimeMode.ProcessingTime schedules batches forever, so AvailableNow
    * never terminates. A checkpointed restart resumes offsets AND state —
    * the `cdc_state_sink_tws` gate kills the query mid-changelog and
    * proves the restarted half folds onto the recovered state to the
    * batch-compact oracle.
    */
  def runTws(spark: SparkSession, source: Dataset[Ch], stateDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      tombstoneTtl: java.time.Duration = java.time.Duration.ofDays(1),
      trigger: Trigger = Trigger.ProcessingTime(50L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    mergedTws(source, tombstoneTtl).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Ch], _: Long) =>
        // preDeduped: transformWithState's handleInputRows runs once per
        // key per micro-batch and emits ≤ 1 row (see MergeProcessor), so
        // the per-batch latest-per-key window is redundant — same
        // argument as [[run]]'s sink (guide §2.4: remove the exchange).
        upsertBatch(batch.toDF(), stateDir, nBuckets, preDeduped = true)
      }
      .start()

  /** Untyped twin of [[run]] for payload-EVOLVING sources. A file stream's
    * schema is declared at (re)start, so after an upstream `ALTER TABLE ADD
    * COLUMN` the operator restarts the job on the SAME checkpoint with the
    * widened schema: offsets resume (already-processed v1 segments are not
    * re-read), v2 batches flow with the added column, and the sink widens
    * per [[upsertBatch]]'s mergeSchema semantics. The typed [[run]] cannot
    * straddle that restart — `Ch`'s row/state schema is compile-time fixed
    * — which is exactly the production split: the ACTION state machine has
    * a fixed core schema, the PAYLOAD evolves untyped around it.
    *
    * Cross-batch merge semantics match the typed fold (see [[foldBatch]]):
    * stored rows re-enter the action state machine ahead of the batch's
    * fresh changes, so insert+delete annihilates and delete+insert
    * resurrects across micro-batches AND across the restart.
    *
    * Tombstone retention is AUTOMATIC (`autoSweep`, default on): after each
    * micro-batch folds, [[sweepTombstones]] runs with the horizon derived
    * from the batch itself — when `foreachBatch(N)` fires, every batch < N
    * is durably committed (Structured Streaming constructs batch N only
    * after N−1's commit-log write), so the only changes the source can
    * still RE-deliver are batch N and later. Under the binlog's monotone
    * seq contract (batches arrive in seq order — the CDC invariant the
    * whole pipeline rides on), the smallest seq the current batch carries
    * IS the checkpoint's committed-offset replay low-water, read without a
    * second checkpoint parse. A tombstone created by batch N carries
    * H ≥ that minimum, so it survives exactly until the NEXT batch's sweep
    * proves its replay window closed — net state stays ≈ live rows under
    * churn with no manual sweep (`SchemaEvolutionSpec` pins it). Disable
    * for sources that violate seq-monotonicity across batches (out-of-order
    * backfills) and sweep manually from the true source horizon.
    */
  def runEvolving(spark: SparkSession, srcDir: String,
      schema: StructType, stateDir: String, checkpointDir: String,
      nBuckets: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      autoSweep: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val replayLowWater = foldBatch(batch.toDF(), stateDir, nBuckets)
        if (autoSweep)
          replayLowWater.foreach(sweepTombstones(spark, stateDir, _))
      }
      .start()

  /** One micro-batch of the untyped evolving path: fold the batch's
    * changes into stored state THROUGH the action state machine.
    *
    * Stored touched-key rows are unioned (additively — the schema may
    * differ across the evolution boundary) BELOW the batch's fresh
    * changes and refolded by [[Merge.compact]]: the stored row's action
    * seeds the fold exactly like `GroupState` seeds the typed one, so
    * cross-batch transitions match. Replay-idempotent: a batch change
    * at-or-below the stored high-water `seq` is dropped (the typed fold's
    * `e.seq > seen` guard).
    *
    * Annihilated keys keep a PERSISTENT `none` tombstone row carrying the
    * key's high-water seq. The typed path doesn't need one — its
    * checkpointed `GroupState` remembers the seen-seq across replays —
    * but here the parquet sink IS the only state: dropping the row would
    * drop the replay guard with it, and re-running an annihilating batch
    * after a crash would refold the delete as a fresh bare delete. A
    * stored tombstone contributes its seq to the guard but does NOT seed
    * the fold (the typed machine holds no action state after an
    * annihilation, so a later insert folds as a plain insert). Consumers
    * read live rows as `cdc_action != 'none'`; tombstones are one row per
    * annihilated key and [[sweepTombstones]] drops those older than the
    * source's replay horizon.
    *
    * Cost per batch is O(touched-bucket rows + batch) — the stored side
    * is bucket-pruned then key-semi-joined, never a full state scan.
    *
    * Returns the batch's smallest seq (None for an empty batch) — the
    * replay low-water [[runEvolving]]'s auto-sweep feeds to
    * [[sweepTombstones]].
    */
  /** Run `f` with a Spark job description — the sink's per-batch jobs
    * otherwise all report the stream's `.start()` callsite, which makes
    * the UI (and any job-census profiling) unable to attribute the
    * micro-batch constant to its phases. Restores the previous
    * description (thread-local) so the label never leaks.
    */
  private def described[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Bucket-geometry guard: the durable state's layout is keyed by
    * `pmod(hash(key), nBuckets)`, so REOPENING a state dir with a
    * different nBuckets would read/write the wrong buckets — keys
    * silently duplicate (the old-modulus row is never seen by the
    * anti-join) and already-folded changes re-apply. The geometry is
    * recorded in a `_GEOMETRY` file at state creation and validated on
    * every open; a mismatch fails naming both values. A pre-upgrade
    * state dir (no marker) adopts the caller's value — the caller was
    * running it under that geometry already.
    */
  private def checkGeometry(fs: org.apache.hadoop.fs.FileSystem,
      statePath: org.apache.hadoop.fs.Path, nBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(statePath, "_GEOMETRY")
    val stored: Option[Int] =
      try {
        val in = fs.open(p)
        val t = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim
        finally in.close()
        Some(t.toInt)
      } catch { case _: java.io.FileNotFoundException => None }
    stored match {
      case Some(b) if b != nBuckets =>
        throw new IllegalStateException(
          s"CdcStream: state at $statePath was written with nBuckets=$b " +
            s"but this run uses nBuckets=$nBuckets — reopening under a " +
            "different bucket modulus would silently duplicate keys; " +
            s"pass nBuckets=$b, or rebuild the state")
      case Some(_) => ()
      case None =>
        fs.mkdirs(statePath): Unit
        val os = fs.create(p, true)
        try os.write(nBuckets.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
    }
  }

  private[graft] def foldBatch(batchDf: DataFrame, stateDir: String,
      nBuckets: Int): Option[Long] = {
    val spark = batchDf.sparkSession
    val keys = Seq("table", "rid")
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed prior swap BEFORE listing or reading the state dir:
    // after a crash between a leaf's two commit renames, a bucket sits
    // evacuated in .graft-old-* — an eagerly-resolved listing taken now
    // would miss it, and begin()'s recovery (which runs later, inside the
    // write) would restore it AFTER the plan was built without its rows,
    // silently dropping that bucket's untouched keys on the swap
    graft.GenSwap.recover(fs, statePath)
    checkGeometry(fs, statePath, nBuckets)
    val hasState = fs.exists(statePath) &&
      fs.listStatus(statePath).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("bucket="))
    // the batch is deliberately NOT materialized: its three consumers
    // (probe aggregate, high-water join, fold union) re-read the source's
    // micro-batch slice — a small, page-cached parquet segment — which is
    // cheaper than a per-batch localCheckpoint job that reads the same
    // slice once and pins it anyway (the jobs, not the bytes, are the
    // dominant micro-batch constant; measured in the r14 fold profile)
    val batch = batchDf
    // ONE probe job answers empty?, touched buckets, and the batch's min
    // seq (the replay low-water the auto-sweep needs) — the r12 shape
    // paid three driver round-trips for the same facts
    val probe = described(spark, "graft: fold probe") { batch
      .groupBy(pmod(hash(col("table"), col("rid")), lit(nBuckets))
        .as("bucket"))
      .agg(min(col("seq").cast("long")).as("mn"))
      .collect() } // bounded by nBuckets — tiny
    if (probe.isEmpty) return None
    val minSeq = probe.map(_.getLong(1)).min
    val touched = probe.map(_.getInt(0)).toSet
    val touchedKeys = batch.select("table", "rid").distinct()
    // ONE read of the touched buckets' state serves the whole batch: the
    // touched-key restriction below (fold seed + high-water guard) AND
    // upsertBatch's carry-through of the buckets' other keys — the r12
    // shape scanned the same buckets twice per micro-batch
    val bucketRows =
      if (!hasState) None
      else Some(described(spark, "graft: fold state read") {
        readState(spark, stateDir)
          .filter(col("bucket").isin(touched.toSeq: _*))
          .materialize() })
    // hw guard and fold seed both live inside the ONE downstream write
    // job, over the already-materialized bucketRows — evaluating this
    // semi-join twice there is cheaper than a third per-batch
    // checkpoint job
    val storedOpt = bucketRows.map(_
      .drop("bucket")
      .join(touchedKeys, keys, "left_semi"))
    val fresh = storedOpt match {
      case None => batch
      case Some(st) =>
        val hw = st.select(col("table"), col("rid"), col("seq").as("_hw"))
        batch.join(hw, keys, "left")
          .filter(col("_hw").isNull || col("seq") > col("_hw")).drop("_hw")
    }
    // keepNone: the SAME fold pass that folds the live rows emits each
    // annihilated key as a `none` row carrying its high-water max(seq) —
    // the tombstone the sink persists. (The r12 shape re-derived those
    // rows per batch via a touched-keys anti-join + a stored∪batch
    // high-water union + a re-join: three extra shuffles whose answer the
    // fold already computed.) A key whose fresh changes ALL fall below
    // the stored high-water contributes nothing here and its stored row
    // — live or tombstone — survives upsertBatch's anti-join untouched,
    // which is exactly the replayed-batch no-op.
    val merged = storedOpt match {
      case None => graft.Merge.compact(fresh, keys, keepNone = true)
      case Some(st) =>
        val seed = st.filter(col("cdc_action") =!= Types.None_)
        graft.Merge.compact(graft.Evolve.additiveUnion(Seq(seed, fresh)),
          keys, keepNone = true)
    }
    upsertBatch(merged, stateDir, nBuckets, keepTombstones = true,
      preDeduped = true,
      precomputedOld = bucketRows.map(br => (br, touched)))
    Some(minSeq)
  }

  /** Which buckets of a state dir hold tombstones, and each bucket's
    * minimum live tombstone seq — maintained by every state write in
    * this JVM (upsertBatch and the sweep both learn it from the per-
    * bucket aggregate they already collect) so the per-batch sweep probe
    * can skip settled buckets WITHOUT scanning them. A state dir not in
    * the map is unknown (cold start / restart): the first sweep seeds it
    * with one full probe, after which the steady-state sweep of a
    * tombstone-free stream is ZERO Spark jobs (the r13 @state smoke
    * measured the uncached probe reading the whole tombstone column
    * family per micro-batch — per-batch I/O linear in state, the exact
    * class this sink exists to avoid). Soundness rides on the sink's
    * existing single-writer contract: all writes to a state dir go
    * through this object in this JVM between restarts; a restart merely
    * drops back to the cold full probe.
    */
  private val tombMins =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  /** Test seam: forget the cached tombstone knowledge for a state dir —
    * simulates a JVM restart so specs can pin the cold-probe reseed path.
    */
  private[graft] def forgetTombstoneCache(stateDir: String): Unit = {
    tombMins.remove(stateDir)
    ()
  }

  /** Fold one write's per-bucket tombstone stats into the cache: buckets
    * rewritten with ≥1 tombstone record their min seq, rewritten-clean
    * (or deleted) buckets drop out. Only updates a SEEDED entry — before
    * the cold probe there is no full-state knowledge to patch.
    */
  private def learnTombstones(stateDir: String, touched: Set[Int],
      stats: Map[Int, (Long, Long)], seed: Boolean): Unit =
    tombMins.compute(stateDir, (_, prev) =>
      if (prev == null && !seed) null
      else (Option(prev).getOrElse(Map.empty) -- touched) ++
        stats.collect { case (b, (nt, mn)) if nt > 0 => b -> mn })

  /** Retention sweep for the `none` tombstones [[foldBatch]] persists.
    *
    * A tombstone carrying high-water seq H exists to make a REPLAY of the
    * annihilating batch a no-op: it supplies the `seq > _hw` guard for
    * changes with seq ≤ H. `olderThanSeq` is the source's replay horizon —
    * the smallest seq the source can still re-deliver (checkpoint offset
    * low-water, binlog retention edge). A tombstone with H < horizon can
    * never guard anything again (every possible arrival has seq ≥ horizon
    * > H and passes the guard regardless), so it is dead weight; one with
    * H ≥ horizon still guards a live replay window and MUST stay.
    *
    * Cost is O(buckets holding aged tombstones), not O(state): the probe
    * scan pushes `cdc_action='none' AND seq < horizon` into the parquet
    * scan (row-group min/max skips settled buckets), and only buckets that
    * actually hold aged tombstones are rewritten — the same staged
    * dynamic-partition-overwrite discipline as [[upsertBatch]], so a crash
    * at any point re-converges on the next sweep. Like foldBatch itself,
    * the sweep assumes the single-writer maintenance slot: run it between
    * micro-batches, not concurrently with one.
    *
    * Returns the number of tombstones dropped.
    */
  def sweepTombstones(spark: SparkSession, stateDir: String,
      olderThanSeq: Long): Long = {
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed prior swap BEFORE the stats scan: an evacuated
    // bucket invisible to this listing would make the sweep's rewrite
    // plan (and the cache reseed) run without that bucket's rows
    graft.GenSwap.recover(fs, statePath)
    val hasState = fs.exists(statePath) &&
      fs.listStatus(statePath).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("bucket="))
    if (!hasState) return 0L
    def isAged = col("cdc_action") === Types.None_ &&
      col("seq") < olderThanSeq
    // probe scope from the cache: only buckets whose min live tombstone
    // seq is inside the horizon can hold aged rows. Cache hit with no
    // such bucket — the steady state of a stream between annihilation
    // bursts — is ZERO Spark jobs; cache miss (cold start) probes the
    // whole state once and seeds full knowledge.
    val cached = Option(tombMins.get(stateDir))
    val candidates = cached.map(_.filter(_._2 < olderThanSeq).keys.toSeq)
    if (candidates.exists(_.isEmpty)) return 0L
    val agedBuckets = candidates.getOrElse {
      // cold probe over the full state: per bucket, live tombstone count
      // + min seq — seeds the cache, names the aged buckets. The CACHED
      // path skips this job entirely: the cached min-seq is exact
      // per-bucket knowledge (every fold/sweep records complete stats for
      // the buckets it rewrites), so mn < horizon PROVES ≥1 aged row.
      val stats = described(spark, "graft: sweep cold probe") {
        readState(spark, stateDir)
          .filter(col("cdc_action") === Types.None_)
          .groupBy("bucket")
          .agg(count(lit(1)).as("nt"), min("seq").as("mn"))
          .collect() }
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      tombMins.put(stateDir, stats.map { case (b, (_, mn)) => b -> mn })
      stats.collect { case (b, (_, mn)) if mn < olderThanSeq => b }.toSeq
    }
    if (agedBuckets.isEmpty) return 0L
    // stage the survivors in a hidden generation dir, then swap
    // ([[graft.GenSwap]], same discipline as upsertBatch): the plan reads
    // the touched bucket files while they sit untouched on disk — no
    // checkpoint, no overwrite-of-own-source window; a crash at any point
    // is healed by the next begin()'s recovery sweep and the sweep simply
    // re-runs (it is idempotent on the retained set).
    val g = graft.GenSwap.begin(spark, stateDir)
    val (dropped, post) = try {
      // dropped count + surviving-tombstone stats observed ON the rewrite
      // job (the upsertBatch Observation discipline): one CollectMetrics
      // node placed BEFORE the aged filter sees every scoped row — 3
      // conditional aggregates per aged bucket, bounded by nBuckets.
      // This replaced a separate probe job AND a generation-readback job
      // per sweeping micro-batch (the r12→r15 evolving-constant chase).
      val o = new org.apache.spark.sql.Observation(
        "graft_sweep_stats_" + java.util.UUID.randomUUID())
      val exprs = agedBuckets.sorted.flatMap { b =>
        val tomb = col("cdc_action") === Types.None_ && col("bucket") === b
        Seq(count(when(tomb && col("seq") < olderThanSeq, 1)).as(s"ag_$b"),
          count(when(tomb && col("seq") >= olderThanSeq, 1)).as(s"nt_$b"),
          min(when(tomb && col("seq") >= olderThanSeq, col("seq")))
            .as(s"mn_$b"))
      }
      described(spark, "graft: sweep rewrite") {
        readState(spark, stateDir)
          .filter(col("bucket").isin(agedBuckets: _*))
          .observe(o, exprs.head, exprs.tail: _*)
          .filter(!isAged)
          .write.mode("overwrite").partitionBy("bucket").parquet(g.genDir) }
      val m = o.get
      val drop = agedBuckets.map(b => m(s"ag_$b").asInstanceOf[Long]).sum
      val stats0 = agedBuckets.map { b =>
        val nt = m(s"nt_$b").asInstanceOf[Long]
        val mn = Option(m(s"mn_$b")).map(_.asInstanceOf[Long])
          .getOrElse(Long.MaxValue)
        b -> ((nt, mn))
      }
      // a bucket holding ONLY aged tombstones has no surviving rows —
      // absent from the generation (pure listing, no job); its directory
      // is dropped THROUGH the commit, so the delete is crash-covered
      // like any leaf replacement (see GenSwap.commit dropLeaves)
      val genPath = new org.apache.hadoop.fs.Path(g.genDir)
      val outBuckets =
        if (!fs.exists(genPath)) Set.empty[Int]
        else fs.listStatus(genPath)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("bucket="))
          .map(_.getPath.getName.stripPrefix("bucket=").toInt).toSet
      graft.GenSwap.commit(g, dropLeaves = (agedBuckets.toSet -- outBuckets)
        .toSeq.sorted.map(b => s"bucket=$b"))
      (drop, stats0)
    } catch { case t: Throwable => graft.GenSwap.abort(g); throw t }
    learnTombstones(stateDir, agedBuckets.toSet, post.toMap, seed = false)
    dropped
  }

  /** Failure-injection seam for the replay spec: invoked after the
    * replacement generation is fully staged but before the swap commits —
    * the widest window in which a real crash leaves computed-but-
    * uncommitted batch output. Tests swap in a throwing hook; production
    * never touches it.
    */
  private[graft] var afterStageHook: () => Unit = () => ()

  /** Read the bucketed state dir with parquet schema MERGING: buckets
    * written before an additive schema evolution carry the narrow schema,
    * buckets touched after carry the wide one — `mergeSchema` unions the
    * footers so consumers always see the widest, with NULLs where old rows
    * predate the added column. Cost at scale is one footer read per file
    * (no data pass); a managed table format's schema registry is the
    * documented swap when footer reads themselves dominate.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(stateDir)

  /** One micro-batch's state upsert (the foreachBatch body of [[run]]).
    *
    * Idempotent under replay AT ANY FAILURE POINT: the state dir is only
    * mutated by the final dynamic overwrite (+ annihilated-dir delete), and
    * re-running the batch against either the pre-overwrite state or a
    * partially-overwritten state converges — `old` rows of an already-
    * rewritten bucket equal the batch output, the anti-join removes the
    * batch's keys either way, and the union re-adds the survivors.
    * `StreamSpec` proves it by crashing after staging and replaying.
    *
    * Schema evolution (A7 constructive half): a batch that carries an
    * ADDED nullable column upserts against narrower stored state — the
    * state read merges schemas and the union fills missing sides with
    * NULL, in both directions (a wide batch against narrow state, and a
    * replayed narrow batch against already-widened state). Only touched
    * buckets rewrite in the wide schema; settled buckets widen lazily at
    * read time. Conflicting drift (a changed type) still fails the job —
    * `Evolve.additiveUnion` is the batch-side gate for that class.
    */
  private[graft] def upsertBatch(batchDf: DataFrame, stateDir: String,
      nBuckets: Int, keepTombstones: Boolean = false,
      preDeduped: Boolean = false,
      precomputedOld: Option[(DataFrame, Set[Int])] = None): Unit = {
    val spark = batchDf.sparkSession
    // preDeduped: foldBatch's compact already emits ≤ 1 row per key, so
    // the latest-per-key window (a full sort shuffle per micro-batch)
    // would re-derive what the compact fold guarantees
    val deduped =
      if (preDeduped) batchDf
      else Merge.latestPerKey(batchDf, Seq("table", "rid"), "seq")
    val updatesPlan = deduped
      .withColumn("bucket", pmod(hash(col("table"), col("rid")), lit(nBuckets)))
    // default path: one computation feeds the touched-bucket collect, the
    // anti-join, and the union — materialize. precomputedOld path: the
    // caller already supplies the touched set, so BOTH remaining
    // consumers live inside the single staged-write job — evaluating the
    // (small, pre-deduped) batch fold twice there is cheaper than one
    // more per-micro-batch checkpoint job (the job count, not the bytes,
    // is the dominant evolving-sink constant — r14 fold profile)
    val updates =
      if (precomputedOld.isDefined) updatesPlan else updatesPlan.materialize()
    // typed path (default): a `none` tombstone only REMOVES the stored row
    // (the checkpointed GroupState carries the replay guard). Untyped
    // foldBatch keeps tombstone rows — the sink is its only state.
    def liveOf(df: DataFrame): DataFrame =
      if (keepTombstones) df else df.filter(col("cdc_action") =!= Types.None_)
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed prior swap BEFORE the listing / state read below —
    // begin()'s own recovery runs too late for a plan that eagerly
    // resolved the parquet listing while a bucket sat evacuated in
    // .graft-old-* (its untouched keys would be dropped by the swap).
    // precomputedOld is exempt only because foldBatch (the sole supplier)
    // now recovers before ITS read of the same dir.
    if (precomputedOld.isEmpty) {
      graft.GenSwap.recover(fs, statePath)
      checkGeometry(fs, statePath, nBuckets)
    }
    // precomputedOld: the caller already read the touched buckets' state
    // (foldBatch reads it for its seed anyway) — reuse it instead of a
    // second scan of the same buckets, and take the caller's touched set
    // (a superset is fine: its extra buckets rewrite identically)
    val (next, touched, freshDir) = precomputedOld match {
      case Some((old, tb)) =>
        (old.join(updates.select("table", "rid"), Seq("table", "rid"),
            "left_anti")
          .unionByName(liveOf(updates), allowMissingColumns = true), tb,
          false)
      case None =>
        val tb = updates.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet // bounded by nBuckets — tiny
        // "has state" = at least one bucket=* partition dir remains. A
        // batch that annihilates every live key deletes all bucket dirs
        // but leaves stateDir itself — reading that empty dir would fail
        // schema inference, so treat it the same as a missing dir.
        // Checked through the Hadoop FileSystem (same as the deletion
        // path below), so hdfs://, s3a://, and local state dirs all
        // behave identically.
        val hasState = fs.exists(statePath) &&
          fs.listStatus(statePath).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("bucket="))
        val n =
          if (hasState) {
            // partition-pruned: only the touched buckets are scanned
            val old = readState(spark, stateDir)
              .filter(col("bucket").isin(tb.toSeq: _*))
            old.join(updates.select("table", "rid"), Seq("table", "rid"),
                "left_anti")
              .unionByName(liveOf(updates), allowMissingColumns = true)
          } else liveOf(updates)
        (n, tb, !hasState)
    }
    // stage the touched-bucket replacement in a hidden generation dir
    // inside the state dir, then swap it in ([[graft.GenSwap]]): the
    // plan's source bucket files stay on disk untouched for the whole
    // write, so NO checkpoint of any kind is needed — the r13 design
    // (forced localCheckpoint → dynamic overwrite of the same files) made
    // the state rewrite depend on executor-pinned, non-fault-tolerant
    // blocks mid-overwrite, the exact stage→overwrite-own-source pattern
    // that went intermittently nondeterministic in lake_compact. The swap
    // is two metadata renames per touched bucket; a crash at any point is
    // healed by the next batch's recovery sweep, and the streaming
    // checkpoint replays the batch convergently exactly as before (the
    // state dir still mutates only at commit).
    val g = graft.GenSwap.begin(spark, stateDir)
    val outStats = try {
      // untyped/evolving path: tombstones are stored (the sink is the only
      // state), so the sweep cache needs real per-bucket counts — observed
      // ON the write job itself (conditional aggregates per touched
      // bucket, one codegen'd pass, bounded by nBuckets ≤ 64 × 2 exprs)
      // instead of a separate readback job per micro-batch (~180 ms of
      // the per-batch constant the r12/r13 asks chased).
      val obs =
        if (!keepTombstones || touched.isEmpty) None
        else Some((new org.apache.spark.sql.Observation(
          "graft_sink_stats_" + java.util.UUID.randomUUID()),
          touched.toSeq.sorted))
      val toWrite = obs match {
        case None => next
        case Some((o, tb)) =>
          val exprs = tb.flatMap { b =>
            val isTomb = col("cdc_action") === Types.None_ &&
              col("bucket") === b
            Seq(count(when(isTomb, 1)).as(s"nt_$b"),
              min(when(isTomb, col("seq"))).as(s"mn_$b"))
          }
          next.observe(o, exprs.head, exprs.tail: _*)
      }
      described(spark, "graft: sink stage write") {
        toWrite.write.mode("overwrite").partitionBy("bucket")
          .parquet(g.genDir) }
      // per-bucket tombstone stats from the freshly-written generation (a
      // cheap scan of small local files — replaces the second pass over
      // the checkpointed plan). A bucket whose keys ALL annihilated has
      // no output rows — absent from the generation, its old directory
      // is dropped below. The same pass teaches the sweep cache which
      // rewritten buckets now hold tombstones (a write into a FRESH dir
      // is complete knowledge and seeds the cache outright).
      val genPath = new org.apache.hadoop.fs.Path(g.genDir)
      // written buckets from the generation's partition dirs — a pure
      // listing, no Spark job (also the read roots below: a dot-named
      // root makes DataSource emit a spurious "All paths were ignored"
      // WARN per batch)
      val bucketDirs =
        if (!fs.exists(genPath)) Array.empty[org.apache.hadoop.fs.Path]
        else fs.listStatus(genPath)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("bucket="))
          .map(_.getPath)
      val stats0 =
        if (bucketDirs.isEmpty) Array.empty[(Int, (Long, Long))]
        else obs match {
          case None =>
            // typed path: liveOf filtered every tombstone out of `next`,
            // so the stored generation PROVABLY holds none — synthesize
            // the per-bucket stats from the listing, zero extra jobs
            bucketDirs.map(p =>
              p.getName.stripPrefix("bucket=").toInt ->
                ((0L, Long.MaxValue)))
          case Some((o, _)) =>
            // observed metrics from the completed write job
            val m = o.get
            bucketDirs.map { p =>
              val b = p.getName.stripPrefix("bucket=").toInt
              val nt = m(s"nt_$b").asInstanceOf[Long]
              val mn = Option(m(s"mn_$b")).map(_.asInstanceOf[Long])
                .getOrElse(Long.MaxValue)
              b -> ((nt, mn))
            }
        }
      afterStageHook()
      // buckets whose keys ALL annihilated have no generation leaf — drop
      // their directories THROUGH the commit (crash-covered evacuation,
      // not a post-commit delete a crash could strand; the streaming
      // replay converged either way, but recovery now needs no replay)
      val outB = stats0.map(_._1).toSet
      graft.GenSwap.commit(g, dropLeaves = (touched -- outB)
        .toSeq.sorted.map(b => s"bucket=$b"))
      stats0
    } catch { case t: Throwable => graft.GenSwap.abort(g); throw t }
    learnTombstones(stateDir, touched, outStats.toMap, seed = freshDir)
  }
}
