package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC-core queries + DuckDB oracles (SURVEY.md §2.1-§2.5).
  *
  * The shared changelog CTE mirrors CdcBatch.changeLog exactly; the compact
  * oracle re-expresses the Merge state machine as a DuckDB `list_reduce`
  * fold over the seq-ordered action list — same semilattice, independent
  * implementation.
  */
object CdcQueries extends QueryRegistry {

  /** DuckDB twin of CdcBatch.changeLog (epoch seconds via floor-div). */
  private val changelogSql =
    """SELECT 'db_test.events' AS "table", CAST(user_id AS VARCHAR) AS rid,
      | CASE WHEN event_type='signup' THEN 'insert'
      |      WHEN event_type='error' THEN 'delete'
      |      ELSE 'update' END AS cdc_action,
      | epoch_ms(ts)//1000 AS cdc_ts, event_id AS seq, value, props
      |FROM events""".stripMargin

  private val mergeFoldSql =
    """list_reduce(list(cdc_action ORDER BY seq), (acc, x) ->
      | CASE WHEN acc='none' THEN x
      |      WHEN acc='insert' THEN (CASE WHEN x='delete' THEN 'none' ELSE 'insert' END)
      |      ELSE (CASE WHEN x='insert' THEN 'update' ELSE x END) END)""".stripMargin

  /** Shared roundtrip verification aggregate: the changelog written to a
    * format and read back must reproduce these per-(table, action) sums.
    * The aggregate is materialized eagerly (localCheckpoint) so the temp
    * files can be deleted before the query result is consumed — no
    * accumulating changelog copies under the temp root across runs.
    */
  private def roundtripAgg(back: DataFrame, tmp: String): DataFrame = {
    val agg = back.groupBy("table", "cdc_action")
      .agg(count(lit(1)).as("n"),
        sum(col("seq").cast("long")).as("sum_seq"),
        round(sum(col("value").cast("double")), 2).as("sum_value"))
      .materializeForced() // tmp is deleted next line — lineage must sever
                           // in EVERY mode, including none
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    agg
  }

  private val roundtripOracle =
    s"""SELECT "table", cdc_action, count(*) AS n,
       | CAST(sum(seq) AS BIGINT) AS sum_seq,
       | round(sum(value), 2) AS sum_value
       |FROM ($changelogSql) GROUP BY 1, 2""".stripMargin

  /** The SPLIT changelog — changeLog × broadcast midpoint k — that four
    * gates (evolving sink, TWS sink, CSV quarantine replay, schema
    * evolve) derive identically as their two-version input. Built ONCE
    * per (application, corpus fingerprint) as a parquet artifact
    * (TrainedCache.sharedPath: memoized in the JVM, first-build seconds
    * attributed in the bench's shared_builds; when the trained store is
    * enabled, the store serves it across runs, keyed by the corpus
    * fingerprint and the code digest) instead of each gate re-scanning +
    * re-materializing the same frame; each call reads the artifact back
    * on ITS session, so the scoped-session gates share it too (the path registry keys on the
    * shared SparkContext's applicationId). Deterministic projection of
    * events.parquet; every consumer is row-order-insensitive.
    */
  private def changelogWithK(s: SparkSession, dir: String): DataFrame = {
    val p = operators.TrainedCache.sharedPath(s, "cdc_split_changelog",
      Seq(s"$dir/events.parquet")) { tmp =>
      val out = s"$tmp/ch"
      CdcBatch.changeLog(s, dir)
        .crossJoin(broadcast(CdcBatch.changeLog(s, dir)
          .agg((max("seq") / 2).cast("long").as("k"))))
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(p)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1-F6: binlog row → change record projection
    "cdc_changelog" -> ((s, dir) => CdcBatch.changeLog(s, dir)),
    // A1/A2: the merge state machine, batch-compacted
    "cdc_compact" -> ((s, dir) => CdcBatch.compactedSnapshot(s, dir)),
    // SCD2-style history: every change becomes a validity interval
    // [seq, next-seq-for-the-key); open interval = current version. One
    // window pass per key — the point-in-time audit complement to the
    // as-of join (q18) and the compacted snapshot (cdc_compact).
    "cdc_history" -> ((s, dir) => {
      val w = Window.partitionBy("table", "rid").orderBy("seq")
      CdcBatch.changeLog(s, dir)
        .select(col("table"), col("rid"), col("cdc_action"), col("seq"),
          col("cdc_ts"))
        .withColumn("valid_to_seq", lead("seq", 1).over(w))
        .withColumn("is_current", col("valid_to_seq").isNull)
    }),
    // A3: key-set dedup — latest change per rid (SADD set semantics)
    "cdc_dedup_rid" -> ((s, dir) => {
      val w = Window.partitionBy("table", "rid").orderBy(col("seq").desc)
      CdcBatch.changeLog(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }),
    // A4/A5: global + per-group counts (DBSIZE / SCARD analogs)
    "cdc_counts" -> ((s, dir) =>
      CdcBatch.changeLog(s, dir)
        .groupBy("table", "cdc_action")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("rid")).as("n_rids"))),
    // F7: latency predicate (binlog_max_latency alarm, cdc.py:101-103) —
    // "now" is pinned to max(cdc_ts) so the check is deterministic
    "cdc_latency_flag" -> ((s, dir) => {
      val ch = CdcBatch.changeLog(s, dir)
      // scalar aggregate as a broadcast single-row cross join: stays one
      // plan (no separate driver action before the query runs)
      val mx = ch.agg(max("cdc_ts").as("max_ts"))
      ch.crossJoin(broadcast(mx))
        .select(col("seq"), col("rid"),
          (col("max_ts") - col("cdc_ts") > 3600L).as("late"))
    }),
    // §3.1 streaming parity: the flatMapGroupsWithState path must produce
    // the same snapshot as the batch compact (same oracle SQL)
    "cdc_compact_stream" -> ((s, dir) =>
      streaming.CdcStream.compactStreamed(s, dir)),
    // §3.1 streaming parity, transformWithState form: the third tombstone
    // strategy (native per-variable TTL) drained to quiescence by progress
    // polling (ProcessingTime TimeMode never terminates AvailableNow);
    // same snapshot, same oracle as cdc_compact_stream
    "cdc_compact_stream_tws" -> ((s, dir) =>
      streaming.CdcStream.compactStreamedTws(s, dir)),
    // §2.8: watermarked tumbling windows run AS A STREAM to completion —
    // streaming/batch parity on the aggregation surface (oracle = batch)
    "cdc_stream_windowed" -> ((s, dir) =>
      streaming.CdcStream.windowedStreamed(s, dir)),
    // §2.8 ext: append-mode windowed aggregation — each window emitted
    // exactly once when the watermark passes its end, state evicted;
    // oracle = batch agg restricted to watermark-closed windows
    "cdc_stream_windowed_append" -> ((s, dir) =>
      streaming.CdcStream.windowedAppendStreamed(s, dir)),
    // §2.8: streaming exactly-once dedup — a doubled source must aggregate
    // like the single-copy batch (oracle = plain batch SQL over events)
    "cdc_stream_dedup" -> ((s, dir) =>
      streaming.CdcStream.dedupStreamed(s, dir)),
    // §2.8 ext: the state-bounded dedup form a standing deployment runs —
    // dropDuplicatesWithinWatermark evicts entries past the reorder
    // window; same oracle (all duplicates arrive inside the window here)
    "cdc_stream_dedup_wm" -> ((s, dir) =>
      streaming.CdcStream.dedupWithinWatermarkStreamed(s, dir)),
    // §2.8: stream-static dimension enrichment (broadcast per micro-batch,
    // left-join semantics) — oracle = the equivalent batch left join
    "cdc_stream_enrich" -> ((s, dir) =>
      streaming.CdcStream.enrichStreamed(s, dir)),
    // §2.8: gap-based sessionization as a stream (session_window state
    // machinery) — oracle = the lag/cumsum batch form at micros resolution
    "cdc_stream_sessions" -> ((s, dir) =>
      streaming.CdcStream.sessionStreamed(s, dir)),
    // §2.8 ext: append-mode sessionization — each session emitted exactly
    // once when the watermark passes its end; oracle states the horizon
    "cdc_stream_sessions_append" -> ((s, dir) =>
      streaming.CdcStream.sessionAppendStreamed(s, dir)),
    // A1/K6 ext: offline state-store introspection — the merge fold's
    // persisted state read back through the `statestore` data source
    // must equal the batch compact (same oracle text as cdc_compact)
    "cdc_state_inspect" -> ((s, dir) => {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_insp").toString
      val res = streaming.CdcStream.stateInspect(s, dir, ckpt)
        .materializeForced()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
      res
    }),
    // §2.8 ext: STREAM-STREAM interval join (watermark-bounded join
    // state) — errors paired with same-user activity in the preceding 6 h;
    // oracle = the equivalent batch interval self-join
    "events_stream_join" -> ((s, dir) =>
      streaming.CdcStream.intervalJoinStreamed(s, dir)),
    // §2.8 ext: left-outer form — unmatched errors emit null-padded once
    // the watermark proves their window empty; oracle states the horizon
    "events_stream_join_outer" -> ((s, dir) =>
      streaming.CdcStream.intervalJoinOuterStreamed(s, dir)),
    // §2.8 ext: full-outer form — both sides' unmatched rows surface,
    // each past its OWN horizon (upper-bound rule for errors, mirrored
    // lower-bound rule for context); oracle states both horizons
    "events_stream_join_full" -> ((s, dir) =>
      streaming.CdcStream.intervalJoinFullStreamed(s, dir)),
    // §2.8 ext: streaming TRENDING — top-3 users per watermark-closed
    // daily window; append windowed count + batch rank over the drained
    // aggregate. Oracle = the batch count QUALIFY'd to k, restricted to
    // closed windows
    "events_stream_topk" -> ((s, dir) =>
      streaming.CdcStream.topkStreamed(s, dir)),
    // §2.8 ext: streaming AS-OF join — each error's single most recent
    // same-user context event; interval-join state + latest-per-key on
    // the O(matches) ledger. Oracle = the batch QUALIFY row_number form
    "events_stream_asof" -> ((s, dir) =>
      streaming.CdcStream.asofJoinStreamed(s, dir)),
    // §2.8 ext: per-user error-burst alerts on Spark 4's
    // transformWithState (typed list state, pruned to the trailing
    // 6 h on every arrival) — oracle = the batch RANGE-frame window
    // count, which the operator's semantics mirror exactly
    "events_burst_alerts" -> ((s, dir) =>
      streaming.CdcStream.burstAlertsStreamed(s, dir)),
    // §2.8 ext: the warm-started twin — batch bootstrap of the detector
    // state, stream over the tail only; oracle = the same RANGE-window
    // count restricted past the cutoff (stream(warm)+tail ≡ full stream)
    "events_burst_warm" -> ((s, dir) =>
      streaming.CdcStream.burstAlertsWarmStreamed(s, dir)),
    // K2+S8+F8: CSV sink → source roundtrip preserves the changelog
    "csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_csv").toString
      val ch = CdcBatch.changeLog(s, dir).withColumn("dt", lit("20260812"))
      sources.Csv.dumpCsv(ch, tmp, 1000000L)
      roundtripAgg(sources.Csv.loadCsv(s, tmp), tmp)
    }),
    // S8-class format width: JSON-lines sink → source roundtrip preserves
    // the changelog (schema given explicitly on read — a JSON lake never
    // relies on inference at 100 TB). Oracle = the same aggregate straight
    // from the parquet-backed changelog.
    "json_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_json").toString
      val ch = CdcBatch.changeLog(s, dir)
      ch.write.mode("overwrite").json(tmp)
      roundtripAgg(s.read.schema(ch.schema).json(tmp), tmp)
    }),
    // S8-class format width: columnar ORC sink → source roundtrip (the
    // other native columnar format next to parquet; schema travels in the
    // file footer like parquet's)
    "orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_orc").toString
      CdcBatch.changeLog(s, dir).write.mode("overwrite").orc(tmp)
      roundtripAgg(s.read.orc(tmp), tmp)
    }),
    // K1 end-to-end: the PRODUCTION sink path — stream → keyed merge →
    // bucketed parquet state with dynamic partition overwrite — run to
    // completion; the final state-dir contents must equal the batch
    // compact (same oracle as cdc_compact). This puts the deploy-shape
    // pipeline, not just its operators, under the hash gate.
    "cdc_state_sink" -> ((s, dir) => {
      // state geometry: the fMGWS merge's state is O(live keys) — size
      // its shuffle to spark.graft.statePartitions via the scoped
      // session (every other stateful gate's discipline), instead of
      // inheriting the batch session's input-parallelism width. 16
      // buckets for the sink dir, the evolving gate's measured geometry
      // (64 buckets was ~2× file-op overhead at sf0.1; layout is
      // invisible to the read-back).
      val ss = streaming.CdcStream.stateScopedSession(s)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sink").toString
      val q = streaming.CdcStream.run(ss,
        streaming.CdcStream.changeLogStream(ss, dir),
        s"$tmp/state", s"$tmp/ckpt", nBuckets = 16)
      q.processAllAvailable(); q.stop()
      val res = ss.read.parquet(s"$tmp/state")
        .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value",
          "props")
        .materializeForced() // the temp state dir is deleted next —
                             // required in every mode, including none
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      res
    }),
    // K1/A7 end-to-end UNDER THE HASH GATE: the untyped EVOLVING sink
    // path across a real checkpoint restart straddling an additive schema
    // change — v1 segments stream through runEvolving, the query is
    // killed, v2 segments (adding props + props_len) land, and the job
    // restarts on the SAME checkpoint with the widened schema. The final
    // live state must equal the batch widened-union compact — the exact
    // oracle text cdc_schema_evolve uses (one oracle serves both, the
    // sim_neardup/stream pattern). Restart-resume, per-batch stored-state
    // seeding, high-water replay guard, and none-tombstone filtering are
    // all on the hash path here, not just in specs.
    "cdc_state_sink_evolving" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sink_ev").toString
      val src = s"$tmp/src"
      val ch = changelogWithK(s, dir) // session-shared split-changelog
                                      // artifact (see its scaladoc)
      val v1 = ch.filter(col("seq") <= col("k"))
        .select("table", "rid", "cdc_action", "cdc_ts", "seq", "value")
      val v2 = ch.filter(col("seq") > col("k"))
        .withColumn("props_len", length(col("props")).cast("long"))
        .select("table", "rid", "cdc_action", "cdc_ts", "seq", "value",
          "props", "props_len")
      // few fat segment files and 16 state buckets: the measurement is
      // the evolving-restart machinery, not file-count overhead (64
      // buckets x 2 runs x staging was ~8s of mostly file ops at sf0.1)
      v1.coalesce(4).write.mode("overwrite").parquet(src)
      val q1 = streaming.CdcStream.runEvolving(s, src, v1.schema,
        s"$tmp/state", s"$tmp/ckpt", nBuckets = 16,
        trigger = Trigger.AvailableNow())
      q1.awaitTermination() // "kill": the pre-ALTER deployment ends
      v2.coalesce(4).write.mode("append").parquet(src) // post-ALTER lands
      val q2 = streaming.CdcStream.runEvolving(s, src, v2.schema,
        s"$tmp/state", s"$tmp/ckpt", nBuckets = 16,
        trigger = Trigger.AvailableNow())
      q2.awaitTermination()
      val res = streaming.CdcStream.readState(s, s"$tmp/state")
        .filter(col("cdc_action") =!= "none") // live rows; tombstones are
                                              // the sink's replay guard
        .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value",
          "props", "props_len")
        .materializeForced() // the temp state dir is deleted next
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      res
    }),
    // K1 end-to-end for the THIRD tombstone strategy (r17 verdict #4):
    // the transformWithState merge wired through the SAME production
    // foreachBatch bucket sink, across a real checkpoint kill/restart.
    // The first half of the changelog streams through runTws, the query
    // is stopped (the "kill"), the second half lands, and the job
    // restarts on the SAME checkpoint — offsets AND the RocksDB state
    // (live + TTL'd tomb column families) recover, the restarted half
    // folds onto that recovered state, and the final bucketed state dir
    // must equal the batch compact (same oracle as cdc_state_sink /
    // cdc_compact). Drained by observable input-row count: TWS's
    // TimeMode.ProcessingTime schedules batches forever, so
    // processAllAvailable/AvailableNow cannot terminate it.
    "cdc_state_sink_tws" -> ((s, dir) => {
      val ss = streaming.CdcStream.stateScopedSession(s)
      streaming.CdcStream.useRocksDBStateStore(ss)
      // empty micro-batches cost a state commit each and fire a ~1.4 s
      // replay batch on the checkpoint restart; the TWS tomb TTL never
      // needs them (state-store TTL, not timer batches) — scoped here
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sink_tws").toString
      val src = s"$tmp/src"
      val ch = changelogWithK(ss, dir) // session-shared split-changelog
                                       // artifact (see its scaladoc)
      val cols =
        Seq("table", "rid", "cdc_action", "cdc_ts", "seq", "value", "props")
      val v1 = ch.filter(col("seq") <= col("k"))
        .select(cols.head, cols.tail: _*)
      val v2 = ch.filter(col("seq") > col("k"))
        .select(cols.head, cols.tail: _*)
      v1.coalesce(4).write.mode("overwrite").parquet(src)
      val schema = ss.read.parquet(src).schema
      val n1 = ss.read.parquet(src).count()
      import ss.implicits._
      def start() = streaming.CdcStream.runTws(ss,
        ss.readStream.schema(schema).parquet(src)
          .as[streaming.CdcStream.Ch],
        s"$tmp/state", s"$tmp/ckpt", nBuckets = 16)
      val q1 = start()
      try streaming.CdcStream.drainTws(q1, n1, 120000L) finally q1.stop()
      v2.coalesce(4).write.mode("append").parquet(src) // post-kill changes
      val n2 = ss.read.parquet(src).count() - n1
      val q2 = start() // restart on the same checkpoint
      try streaming.CdcStream.drainTws(q2, n2, 120000L) finally q2.stop()
      val res = ss.read.parquet(s"$tmp/state")
        .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value",
          "props")
        .materializeForced() // the temp state dir is deleted next
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      res
    }),
    // K2 drift loop CLOSED (dump2csv.py:78-87 quarantines and stops; the
    // reference TODOs the ALTER): a rename-forked changelog quarantines
    // whole to .tmp, replays through Csv.replayQuarantine's supplied
    // mapping (value2 was value), and the recovered rows compact to the
    // same per-(table, action) aggregate as the never-drifted log — the
    // oracle recomputes it straight from the parquet changelog, so the
    // equality proves quarantine → mapped replay → merge loses nothing.
    "csv_quarantine_replay" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_qrgate").toString
      val ch = changelogWithK(s, dir) // session-shared split-changelog
                                      // artifact (see its scaladoc)
      val drifted = ch
        .withColumn("value2", when(col("seq") > col("k"), col("value")))
        .withColumn("value", when(col("seq") <= col("k"), col("value")))
        .withColumn("dt", lit("20260814"))
      val fp = when(col("seq") <= col("k"), lit("base,value"))
        .otherwise(lit("base,value2")) // a FORK — not an additive chain
      sources.Csv.dumpCsvEvolved(drifted, fp, s"$tmp/dump", 1000000L)
      val target = StructType(Seq(
        StructField("table", StringType), StructField("rid", StringType),
        StructField("cdc_action", StringType),
        StructField("cdc_ts", LongType), StructField("seq", LongType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val replayed = sources.Csv.replayQuarantine(s, s"$tmp/dump.tmp",
        target, mapping = Map("value2" -> "value"),
        dropped = Set("dt", "k")) // dt is the dump partition, k the
                                  // drift-synthesis scalar — both scaffolding
      val res = Merge.compact(replayed, Seq("table", "rid"))
        .groupBy("table", "cdc_action")
        .agg(count(lit(1)).as("n"),
          sum(col("seq")).as("sum_seq"),
          round(sum(col("value")), 2).as("sum_value"))
        .materializeForced() // tmp is deleted next line
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      res
    }),
    // time travel: the compacted snapshot AS OF the log's midpoint seq —
    // point-in-time recovery over the same merge machinery; the cutoff is
    // a scalar subquery (broadcast single-row cross join, no driver
    // action), so the query stays one plan at any log size
    "cdc_snapshot_asof" -> ((s, dir) => {
      val ch = CdcBatch.changeLog(s, dir)
      val k = ch.agg((max("seq") / 2).cast("long").as("k"))
      Merge.compact(
        ch.crossJoin(broadcast(k)).filter(col("seq") <= col("k")).drop("k"),
        Seq("table", "rid"))
    }),
    // incremental materialized-view maintenance: per-table live-row count
    // and value sum kept up to date from a CDC suffix WITHOUT recomputing
    // the full state — subtract the touched keys' old contribution, add
    // their recompacted one; untouched keys ride on the base aggregate.
    // Work scales with the touched-key set, not the state size (the
    // 100 TB story: the base here stands in for the stored snapshot
    // table + its aggregate). Oracle = the direct aggregate over the
    // fully compacted log, so equality PROVES the maintenance identity.
    "cdc_incremental_view" -> ((s, dir) => {
      val ch = CdcBatch.changeLog(s, dir)
      CdcBatch.incrementalLiveView(ch.crossJoin(broadcast(
        ch.agg((max("seq") / 2).cast("long").as("k")))))
    }),
    // S7: table catalog listing from the compacted state
    "cdc_tables" -> ((s, dir) =>
      CdcBatch.compactedSnapshot(s, dir)
        .groupBy("table").agg(count(lit(1)).as("n_live_rows"))),
    // A9 (dump2csv.py:155-172): date-grouped, size-capped (8) batching
    "cdc_batch_groups" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("day").orderBy("seq")
      CdcBatch.changeLog(s, dir)
        .withColumn("day", expr("cdc_ts div 86400"))
        .withColumn("rn", row_number().over(w))
        .withColumn("chunk", expr("(rn - 1) div 8"))
        .groupBy("day", "chunk")
        .agg(count(lit(1)).as("n"), min("seq").as("min_seq"),
          max("seq").as("max_seq"))
    }),
    // A7: schema-drift grouping — fingerprint of present payload fields
    // (dump2csv.py:50-60); delete events carry no payload → distinct group
    "cdc_schema_drift" -> ((s, dir) =>
      CdcBatch.changeLog(s, dir)
        .withColumn("fields",
          when(col("cdc_action") === Types.Delete, lit("cdc_action,cdc_ts"))
            .otherwise(lit("cdc_action,cdc_ts,props,value")))
        .groupBy("table", "fields").agg(count(lit(1)).as("n"))),
    // A6 (cdc.py:125-133): the dump-trigger policy under the oracle gate —
    // per-day accumulation vs DumpPolicy thresholds. `should_dump_ref`
    // applies the reference's CacheMaxRows (cdc_config.py:41-42; false at
    // fixture scale, as in a healthy deployment); `should_dump_demo`
    // applies a demo threshold small enough to fire, so BOTH branches of
    // the predicate are oracle-checked.
    "cdc_dump_trigger" -> ((s, dir) =>
      CdcBatch.changeLog(s, dir)
        .groupBy(expr("cdc_ts div 86400").as("day"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("day"), col("n_rows"),
          (col("n_rows") > CdcBatch.DumpPolicy.CacheMaxRows)
            .as("should_dump_ref"),
          (col("n_rows") > 100L).as("should_dump_demo"))),
    // A7 constructive half (beyond-reference — the reference TODOs ALTER
    // TABLE): an ADDITIVELY drifted changelog compacts WITHOUT quarantine.
    // The log's first half plays schema v1 (no props column at all); the
    // second half plays v2 with props AND an added nullable props_len.
    // Evolve.additiveUnion widens v1 rows with NULLs and the standard
    // merge compaction runs unchanged over the union — keys whose life
    // ended in v1 surface with NULL in the v2-only columns.
    "cdc_schema_evolve" -> ((s, dir) => {
      val ch = changelogWithK(s, dir) // session-shared split-changelog
                                      // artifact (see its scaladoc)
      val v1 = ch.filter(col("seq") <= col("k")).drop("k", "props")
      val v2 = ch.filter(col("seq") > col("k")).drop("k")
        .withColumn("props_len", length(col("props")).cast("long"))
      Merge.compact(Evolve.additiveUnion(Seq(v1, v2)), Seq("table", "rid"))
        .select("table", "rid", "cdc_action", "seq", "cdc_ts", "value",
          "props", "props_len")
    }))

  private val compactSql =
    s"""WITH ch AS ($changelogSql),
       |c AS (SELECT "table", rid, $mergeFoldSql AS cdc_action,
       |        max(seq) AS seq, arg_max(cdc_ts, seq) AS cdc_ts,
       |        arg_max(value, seq) AS value, arg_max(props, seq) AS props
       |      FROM ch GROUP BY 1, 2)
       |SELECT * FROM c WHERE cdc_action <> 'none'""".stripMargin

  private val compactAsofSql =
    s"""WITH ch AS (SELECT * FROM ($changelogSql)
       |  WHERE seq <= (SELECT max(seq) // 2 FROM ($changelogSql))),
       |c AS (SELECT "table", rid, $mergeFoldSql AS cdc_action,
       |        max(seq) AS seq, arg_max(cdc_ts, seq) AS cdc_ts,
       |        arg_max(value, seq) AS value, arg_max(props, seq) AS props
       |      FROM ch GROUP BY 1, 2)
       |SELECT * FROM c WHERE cdc_action <> 'none'""".stripMargin

  def oracles: Map[String, String] = Map(
    "cdc_changelog" -> changelogSql,
    "cdc_snapshot_asof" -> compactAsofSql,
    // the oracle recomputes the view DIRECTLY from the fully compacted
    // log — matching it proves the incremental maintenance identity
    // (value quantized to exact integer cents on both sides)
    "cdc_incremental_view" ->
      s"""SELECT "table", count(*) AS n_live,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         |   AS sum_value
         |FROM ($compactSql) GROUP BY 1""".stripMargin,
    "cdc_history" ->
      s"""WITH ch AS ($changelogSql)
         |SELECT "table", rid, cdc_action, seq, cdc_ts,
         | lead(seq) OVER (PARTITION BY "table", rid ORDER BY seq)
         |   AS valid_to_seq,
         | (lead(seq) OVER (PARTITION BY "table", rid ORDER BY seq) IS NULL)
         |   AS is_current
         |FROM ch""".stripMargin,
    "cdc_compact_stream" -> compactSql,
    "cdc_compact_stream_tws" -> compactSql,
    "cdc_state_sink" -> compactSql,
    "cdc_state_sink_tws" -> compactSql,
    "json_roundtrip" -> roundtripOracle,
    "orc_roundtrip" -> roundtripOracle,
    "cdc_stream_windowed" ->
      """SELECT (epoch_ms(ts) // 1000) // 86400 * 86400 AS day_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "cdc_stream_windowed_append" ->
      """SELECT (epoch_ms(ts) // 1000) // 86400 * 86400 AS day_start,
        | event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE (epoch_ms(ts) // 1000) // 86400 * 86400 + 86400 <=
        |  (SELECT epoch_ms(max(ts)) // 1000 - 86400 FROM events)
        |GROUP BY 1, 2""".stripMargin,
    "cdc_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT event_id) AS n_ids, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "cdc_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT event_id) AS n_ids, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "cdc_stream_sessions" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value
        |  FROM events),
        |m AS (SELECT user_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL THEN 1
        |       WHEN tus - lag(tus) OVER w >= 3600000000 THEN 1
        |       ELSE 0 END AS new_s
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT user_id, tus, value, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sid
        | FROM m)
        |SELECT user_id, min(tus) AS session_start,
        | max(tus) + 3600000000 AS session_end,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // the complete-mode sessions restricted to those the final watermark
    // (max event time − 1 h delay) has provably closed
    "cdc_stream_sessions_append" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value
        |  FROM events),
        |m AS (SELECT user_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL THEN 1
        |       WHEN tus - lag(tus) OVER w >= 3600000000 THEN 1
        |       ELSE 0 END AS new_s
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT user_id, tus, value, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sid
        | FROM m)
        |SELECT * FROM (
        | SELECT user_id, min(tus) AS session_start,
        |  max(tus) + 3600000000 AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        | FROM s GROUP BY user_id, sid)
        |WHERE session_end <
        |  (SELECT max(epoch_ns(ts) // 1000) - 3600000000 FROM events)""".stripMargin,
    "cdc_stream_enrich" ->
      """SELECT coalesce(c_mktsegment, '(none)') AS segment,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events LEFT JOIN
        |  (SELECT c_custkey, c_mktsegment FROM customer
        |   WHERE c_custkey % 7 <> 0) c
        |  ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    "events_stream_join" ->
      """SELECT e.event_id AS err_id, o.event_id AS ctx_id,
        | o.event_type AS ctx_type
        |FROM events e JOIN events o
        | ON e.user_id = o.user_id
        | AND e.event_type = 'error' AND o.event_type <> 'error'
        | AND o.ts BETWEEN e.ts - INTERVAL 21600 SECOND AND e.ts""".stripMargin,
    // the final watermark is the MIN across the two inputs (Spark's
    // default multipleWatermarkPolicy) — the errors side's max event
    // time lags the context side's, so it governs. An unmatched left
    // row emits once no in-watermark right row can match it:
    // l.ts + upper(0) < wm. No empirical fudge — the textbook rule,
    // with the correct watermark source (verified row-exact at
    // sf0.001/0.01/0.1; using max(ts) over ALL events instead was
    // off by one boundary row at sf0.001 and 26 at sf0.1).
    "events_stream_join_outer" ->
      """WITH m AS (
        | SELECT e.event_id AS err_id, o.event_id AS ctx_id,
        |  o.event_type AS ctx_type
        | FROM events e JOIN events o
        |  ON e.user_id = o.user_id
        |  AND e.event_type = 'error' AND o.event_type <> 'error'
        |  AND o.ts BETWEEN e.ts - INTERVAL 21600 SECOND AND e.ts),
        |wm AS (SELECT least(
        |   (SELECT max(ts) FROM events WHERE event_type = 'error'),
        |   (SELECT max(ts) FROM events WHERE event_type <> 'error'))
        |  - INTERVAL 3600 SECOND AS w)
        |SELECT err_id, ctx_id, ctx_type FROM m
        |UNION ALL
        |SELECT e.event_id AS err_id, CAST(NULL AS BIGINT) AS ctx_id,
        | CAST(NULL AS VARCHAR) AS ctx_type
        |FROM events e
        |WHERE e.event_type = 'error'
        | AND e.event_id NOT IN (SELECT err_id FROM m)
        | AND e.ts < (SELECT w FROM wm)""".stripMargin,
    // both horizons against the SAME final watermark (min across the
    // two inputs — Spark's default multipleWatermarkPolicy): a left row
    // is provably unmatched once l.ts + upper(0) < wm (no future
    // in-watermark right row can reach it), a right row once
    // r.ts + lower(21600) < wm (no future left row can reach back).
    // The textbook eviction rules, verified row-exact at three SFs —
    // the asymmetry is in the interval bounds, not the watermark.
    "events_stream_join_full" ->
      """WITH m AS (
        | SELECT e.event_id AS err_id, o.event_id AS ctx_id,
        |  o.event_type AS ctx_type
        | FROM events e JOIN events o
        |  ON e.user_id = o.user_id
        |  AND e.event_type = 'error' AND o.event_type <> 'error'
        |  AND o.ts BETWEEN e.ts - INTERVAL 21600 SECOND AND e.ts),
        |wm AS (SELECT least(
        |   (SELECT max(ts) FROM events WHERE event_type = 'error'),
        |   (SELECT max(ts) FROM events WHERE event_type <> 'error'))
        |  - INTERVAL 3600 SECOND AS w)
        |SELECT err_id, ctx_id, ctx_type FROM m
        |UNION ALL
        |SELECT e.event_id AS err_id, CAST(NULL AS BIGINT) AS ctx_id,
        | CAST(NULL AS VARCHAR) AS ctx_type
        |FROM events e
        |WHERE e.event_type = 'error'
        | AND e.event_id NOT IN (SELECT err_id FROM m)
        | AND e.ts < (SELECT w FROM wm)
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS err_id, o.event_id AS ctx_id,
        | o.event_type AS ctx_type
        |FROM events o
        |WHERE o.event_type <> 'error'
        | AND o.event_id NOT IN (SELECT ctx_id FROM m)
        | AND o.ts + INTERVAL 21600 SECOND < (SELECT w FROM wm)""".stripMargin,
    // same closed-window rule as cdc_stream_windowed_append, ranked
    "events_stream_topk" ->
      """WITH c AS (
        | SELECT (epoch_ms(ts) // 1000) // 86400 * 86400 AS day_start,
        |  user_id, count(*) AS n_events
        | FROM events
        | WHERE (epoch_ms(ts) // 1000) // 86400 * 86400 + 86400 <=
        |   (SELECT epoch_ms(max(ts)) // 1000 - 86400 FROM events)
        | GROUP BY 1, 2)
        |SELECT day_start, user_id, n_events,
        | CAST(row_number() OVER (PARTITION BY day_start
        |   ORDER BY n_events DESC, user_id) AS INT) AS rk
        |FROM c QUALIFY rk <= 3""".stripMargin,
    "events_stream_asof" ->
      """SELECT e.event_id AS err_id, o.event_id AS ctx_id,
        | o.event_type AS ctx_type, epoch_us(o.ts) AS ctx_tus
        |FROM events e JOIN events o
        | ON e.user_id = o.user_id
        | AND e.event_type = 'error' AND o.event_type <> 'error'
        | AND o.ts BETWEEN e.ts - INTERVAL 21600 SECOND AND e.ts
        |QUALIFY row_number() OVER (PARTITION BY e.event_id
        |  ORDER BY o.ts DESC, o.event_id DESC) = 1""".stripMargin,
    // the streaming detector's alert set IS the batch RANGE-window count
    "events_burst_alerts" ->
      """WITH e AS (SELECT user_id, ts FROM events
        |  WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts, count(*) OVER (
        |   PARTITION BY user_id ORDER BY ts
        |   RANGE BETWEEN INTERVAL 21600 SECOND PRECEDING AND CURRENT ROW)
        |  AS n_window
        | FROM e)
        |SELECT user_id, epoch_us(ts) AS ts_us, n_window
        |FROM c WHERE n_window >= 2""".stripMargin,
    // the warm-started run must reproduce the full-history alert set
    // past the (data-derived) cutoff — same window count, one filter
    "events_burst_warm" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events
        |  WHERE event_type = 'error'),
        |c AS (SELECT user_id, tus, count(*) OVER (
        |   PARTITION BY user_id ORDER BY tus
        |   RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
        |  AS n_window
        | FROM e)
        |SELECT user_id, tus AS ts_us, n_window
        |FROM c WHERE n_window >= 2
        | AND tus > (SELECT (min(tus) + max(tus)) // 2 FROM e)""".stripMargin,
    "csv_roundtrip" -> roundtripOracle,
    "cdc_compact" -> compactSql,
    // the persisted state store IS the compact: one oracle text
    "cdc_state_inspect" -> compactSql,
    "cdc_tables" ->
      s"""SELECT "table", count(*) AS n_live_rows
         |FROM ($compactSql) GROUP BY 1""".stripMargin,
    "cdc_batch_groups" ->
      s"""WITH ch AS ($changelogSql),
         |r AS (SELECT cdc_ts // 86400 AS day, seq,
         |  row_number() OVER (PARTITION BY cdc_ts // 86400 ORDER BY seq) AS rn
         | FROM ch)
         |SELECT day, (rn - 1) // 8 AS chunk, count(*) AS n,
         | min(seq) AS min_seq, max(seq) AS max_seq
         |FROM r GROUP BY 1, 2""".stripMargin,
    "cdc_dedup_rid" ->
      s"""SELECT * FROM ($changelogSql)
         |QUALIFY row_number() OVER (PARTITION BY "table", rid ORDER BY seq DESC) = 1""".stripMargin,
    "cdc_counts" ->
      s"""SELECT "table", cdc_action, count(*) AS n_rows,
         | count(DISTINCT rid) AS n_rids
         |FROM ($changelogSql) GROUP BY 1, 2""".stripMargin,
    "cdc_latency_flag" ->
      s"""WITH ch AS ($changelogSql)
         |SELECT seq, rid,
         | ((SELECT max(cdc_ts) FROM ch) - cdc_ts > 3600) AS late
         |FROM ch""".stripMargin,
    "cdc_schema_drift" ->
      s"""SELECT "table",
         | CASE WHEN cdc_action='delete' THEN 'cdc_action,cdc_ts'
         |      ELSE 'cdc_action,cdc_ts,props,value' END AS fields,
         | count(*) AS n
         |FROM ($changelogSql) GROUP BY 1, 2""".stripMargin,
    "cdc_dump_trigger" ->
      s"""SELECT cdc_ts // 86400 AS day, count(*) AS n_rows,
         | count(*) > ${CdcBatch.DumpPolicy.CacheMaxRows}
         |   AS should_dump_ref,
         | count(*) > 100 AS should_dump_demo
         |FROM ($changelogSql) GROUP BY 1""".stripMargin,
    // v1 ∪BY NAME v2 mirrors Evolve.additiveUnion; the same merge fold
    // then compacts the widened log. arg_max over the v2-only columns is
    // safe because version membership is seq-ordered: a key's max-seq row
    // is v2 whenever the key has ANY v2 row, so the argmax row's NULLs
    // are exactly the keys whose life ended in v1 — on both engines.
    // the streaming evolving sink must converge to the IDENTICAL batch
    // answer — one oracle text serves both gates
    "cdc_state_sink_evolving" -> schemaEvolveSql,
    "cdc_schema_evolve" -> schemaEvolveSql,
    // the oracle never sees the quarantine: it compacts the clean parquet
    // changelog directly — matching it proves the CSV round-trip + mapped
    // replay recovered every row and byte that matters to the merge
    "csv_quarantine_replay" ->
      s"""SELECT "table", cdc_action, count(*) AS n,
         | CAST(sum(seq) AS BIGINT) AS sum_seq,
         | round(sum(value), 2) AS sum_value
         |FROM ($compactSql) GROUP BY 1, 2""".stripMargin)

  private lazy val schemaEvolveSql =
      s"""WITH ch AS ($changelogSql),
         |v1 AS (SELECT "table", rid, cdc_action, cdc_ts, seq, value
         |  FROM ch WHERE seq <= (SELECT max(seq) // 2 FROM ch)),
         |v2 AS (SELECT "table", rid, cdc_action, cdc_ts, seq, value, props,
         |    CAST(length(props) AS BIGINT) AS props_len
         |  FROM ch WHERE seq > (SELECT max(seq) // 2 FROM ch)),
         |ev AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2),
         |c AS (SELECT "table", rid, $mergeFoldSql AS cdc_action,
         |        max(seq) AS seq, arg_max(cdc_ts, seq) AS cdc_ts,
         |        arg_max(value, seq) AS value, arg_max(props, seq) AS props,
         |        arg_max(props_len, seq) AS props_len
         |      FROM ev GROUP BY 1, 2)
         |SELECT "table", rid, cdc_action, seq, cdc_ts, value, props,
         |  props_len
         |FROM c WHERE cdc_action <> 'none'""".stripMargin
}
