package graft

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch CDC pipeline: change-log derivation (F1-F6) → compaction (A1/A2) →
  * snapshot state (the Spark shape of cdc.py's main loop, SURVEY.md §3.1).
  *
  * The fixture `events` table plays the role of the binlog row stream:
  * `event_id` is the monotone binlog position (seq), `user_id` the primary
  * key, `event_type` maps onto insert/update/delete, `ts` is the binlog
  * event timestamp (second-granularity epoch in the reference, cdc.py:72).
  *
  * Scale notes: the changelog projection is pure narrow work (no shuffle,
  * predicate/column pushdown reaches the parquet scan); compaction is one
  * hash exchange on (table, rid), a sort by (table, rid, seq, cdc_action)
  * and one streaming fold pass; the snapshot write partitions by table so
  * per-table reads (S5) prune partitions.
  */
object CdcBatch {

  /** Binlog-event-type → cdc_action mapping (F1, cdc.py:43-49, 60-74). */
  val actionOf = Map(
    "signup" -> Types.Insert,
    "error" -> Types.Delete)
  // all other event types (click/view/purchase) are row mutations → update

  /** Change-log derivation from the fixture event stream (F3-F6):
    * project after-image, stamp cdc_action + cdc_ts, synthesize rid.
    * cdc_ts is epoch SECONDS (cdc.py:72 uses the binlog header timestamp,
    * second granularity).
    */
  /** Read the fixture event stream with `ts` normalized to epoch
    * NANOSECONDS (LongType) whatever the file's physical representation —
    * see [[normalizeTs]]. The nanosAsLong conf stays set so a
    * TIMESTAMP(NANOS) file resolves as a raw long (which Spark 4 otherwise
    * rejects) and lands in the LongType branch.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Normalize the `ts` event-time column to epoch NANOSECONDS (LongType),
    * branching on the RESOLVED column type — an engine must take the
    * event-time representation from the data, not assume one:
    *  - LongType: already raw nanos (a TIMESTAMP(NANOS) file read under
    *    nanosAsLong, or a pre-normalized frame) — pass through. Integral
    *    arithmetic downstream keeps full precision (a double round-trip
    *    would not: 1.7e18 ns > 2^53).
    *  - TimestampType / TimestampNTZType (e.g. a timestamp[us] parquet
    *    column): `unix_micros` × 1000. NTZ is cast through TimestampType
    *    first (`unix_micros` takes TIMESTAMP); the session time zone is
    *    UTC in every entry point, so the naive instant maps to the same
    *    epoch the DuckDB oracle computes with `epoch_ms`/`epoch_ns`.
    * Max epoch micros ~1.7e15 × 1000 fits a long with 5 bits to spare.
    * Works on batch and streaming frames alike.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df
      case _: TimestampType | _: TimestampNTZType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported type $other — expected epoch-nanos long " +
          "or a timestamp/timestamp_ntz column")
    }
  }

  def changeLog(spark: SparkSession, sfDir: String): DataFrame = {
    readEvents(spark, sfDir).select(
      lit("db_test.events").as("table"),
      Rid.rid(Seq("user_id")),
      when(col("event_type") === "signup", Types.Insert)
        .when(col("event_type") === "error", Types.Delete)
        .otherwise(Types.Update)
        .as("cdc_action"),
      expr("ts div 1000000000").as("cdc_ts"),
      col("event_id").as("seq"),
      col("value"),
      col("props"))
  }

  /** Fail-fast key validation (cdc.py:114-118 / rcache.py:232-235): a
    * change row with a null/empty rid has no identity to merge on — the
    * reference aborts the pipeline (SaveIgnore → warn+skip table; missing
    * key config → sys.exit). `raise_error` gives the distributed analog:
    * the job fails on first violation instead of silently dropping rows.
    */
  def validateKeys(changes: DataFrame, ridCol: String = "rid"): DataFrame =
    changes.withColumn(ridCol,
      when(col(ridCol).isNull || col(ridCol) === "",
        raise_error(concat(lit("SaveIgnore: row without primary key in table "),
          col("table"))))
        .otherwise(col(ridCol)))

  /** Net-change snapshot: compacted state per (table, rid) — the Redis cache
    * contents after the event stream has been applied (rcache.py:224-259).
    */
  def compactedSnapshot(spark: SparkSession, sfDir: String): DataFrame =
    Merge.compact(
      changeLog(spark, sfDir),
      keyCols = Seq("table", "rid"),
      payloadCols = Seq("cdc_ts", "value", "props"))

  /** A6 (cdc.py:125-133): dump-trigger policy constants and predicates.
    * In the Spark engine the capacity trigger becomes a streaming trigger
    * policy (Spark spills instead of OOM-ing like Redis), and the latency
    * check is a watermark-gap alarm — but the thresholds are the
    * reference's (cdc_config.py:41-48).
    */
  object DumpPolicy {
    val CacheMaxRows = 2000000L    // cdc_config.py:41-42
    val BinlogMaxLatency = 60000L  // seconds, cdc_config.py:48

    def shouldDump(cacheRows: Long, maxRows: Long = CacheMaxRows): Boolean =
      cacheRows > maxRows

    def isLate(nowTs: Long, eventTs: Long,
        maxLatency: Long = BinlogMaxLatency): Boolean =
      nowTs - eventTs > maxLatency
  }

  /** Persist the snapshot as the parquet state dir, partitioned by table so
    * single-table scans (S5, rcache.py:162-174) become partition-pruned
    * reads, and overwrite-idempotent (at-least-once replay safety,
    * SURVEY.md §2.8).
    */
  def writeSnapshot(snapshot: DataFrame, stateDir: String): Unit =
    snapshot.write.mode("overwrite").partitionBy("table").parquet(stateDir)

  /** Incremental materialized-view maintenance over the merge state: the
    * per-table (live-row count, value sum) view after applying a CDC
    * suffix (`seq > k`) to the snapshot at `seq <= k`, computed by
    * subtracting the touched keys' old contribution and adding their
    * recompacted one — untouched keys ride on the base aggregate, so the
    * work scales with the touched-key set, not the state size.
    *
    * `chWithK` = the changelog with a `k` cutoff column attached (scalar
    * subquery or literal). Identity (spec-pinned at several cutoffs):
    * result == direct aggregate over the FULLY compacted log.
    */
  def incrementalLiveView(chWithK: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val ch = chWithK.materialize() // one log scan feeds all branches
    val base = Merge.compact(
      ch.filter(col("seq") <= col("k")).drop("k"), Seq("table", "rid"))
      .materialize() // the "stored snapshot"
    // the view's money column is EXACT integer cents: incremental
    // maintenance subtracts and re-adds partial sums, and float
    // subtraction would amplify ulp drift until round(.., 2) could land a
    // cent off the direct recompute — long arithmetic makes the identity
    // exact at any cutoff (the oracle mirrors the same quantization)
    val cents = round(col("value") * 100, 0).cast("long")
    val baseAgg = base.groupBy("table")
      .agg(count(lit(1)).as("n0"), sum(cents).as("sv0"))
    val touched = ch.filter(col("seq") > col("k"))
      .select("table", "rid").distinct()
    val removed = base.join(touched, Seq("table", "rid"), "left_semi")
      .groupBy("table")
      .agg(count(lit(1)).as("n_old"), sum(cents).as("sv_old"))
    val added = Merge.compact(
        ch.drop("k").join(touched, Seq("table", "rid"), "left_semi"),
        Seq("table", "rid"))
      .groupBy("table")
      .agg(count(lit(1)).as("n_new"), sum(cents).as("sv_new"))
    baseAgg.join(removed, Seq("table"), "full_outer")
      .join(added, Seq("table"), "full_outer")
      .select(col("table"),
        (coalesce(col("n0"), lit(0L)) - coalesce(col("n_old"), lit(0L))
          + coalesce(col("n_new"), lit(0L))).as("n_live"),
        ((coalesce(col("sv0"), lit(0L)) - coalesce(col("sv_old"), lit(0L))
          + coalesce(col("sv_new"), lit(0L))).cast("double") / 100.0)
          .as("sum_value"))
      .filter(col("n_live") > 0)
  }
}
