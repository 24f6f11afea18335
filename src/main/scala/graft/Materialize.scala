package graft

import org.apache.spark.sql.DataFrame

/** Materialization indirection for multi-consumer intermediates.
  *
  * Several operators compute a table once and feed it to 2+ downstream
  * branches (a self-join's both sides, a stats pass plus a flagging pass,
  * each round of an iterative closure). Left as pure lineage, Spark
  * re-executes the producing sub-plan per consumer — for the iterative
  * algorithms that is exponential. These sites materialize instead.
  *
  * The HOW is deployment-dependent, selected by the `spark.graft.materialize`
  * conf (read per call, so one session can A/B):
  *
  *  - `local` (default): `Dataset.localCheckpoint` — blocks live in executor
  *    storage, no durable write, fastest. Correct for `local[*]` and for
  *    interactive clusters where a lost executor may fail the job. NOT
  *    fault-tolerant: local checkpoints pin blocks to executors, and an
  *    executor loss makes the truncated lineage unrecoverable.
  *  - `reliable`: `Dataset.checkpoint` to the SparkContext checkpoint dir —
  *    the cluster-deployment mode. Survives executor loss: lost partitions
  *    are re-read from durable storage instead of failing the job. Point
  *    `spark.graft.materialize.dir` (or call
  *    `sc.setCheckpointDir`) at HDFS/object storage; set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so checkpoint
  *    files of GC'd plans are reaped mid-job.
  *  - `none`: pass-through — pure lineage recompute. Useful to measure what
  *    materialization buys, and correct (if slow) everywhere.
  *
  * All driver-gate queries are oracle-green in every mode
  * (`MaterializeSpec` pins local ≡ reliable ≡ none on the iterative and
  * multi-branch representatives).
  *
  * [[scratch]] is the one delete-after-materialize site: a query that
  * stages its work in a driver-local temp dir runs it there, and the dir
  * is deleted only after the result has been cut loose from it.
  */
object Materialize {
  /** Conf key selecting the mode: local (default) | reliable | none. */
  val ModeKey = "spark.graft.materialize"

  /** Conf key for the reliable-mode checkpoint directory. Used only when
    * the SparkContext has no checkpoint dir yet; on a real cluster point
    * it at durable shared storage (hdfs:// or s3a://), not local disk.
    */
  val DirKey = "spark.graft.materialize.dir"

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "none" => df
      case "reliable" => reliable(df)
      case "local" => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable|none, got '$other'")
    }
  }

  /** Materialization that is REQUIRED for correctness, not a performance
    * choice: call sites that DELETE their inputs right after (temp
    * roundtrip dirs, dropped bucketed tables, torn-down state dirs) must
    * sever lineage in every mode — in `none` mode the plain pass-through
    * would leave pure lineage over files that no longer exist, and the
    * first downstream action would throw. `none` therefore falls back to
    * `localCheckpoint` here; `local`/`reliable` behave as in [[apply]].
    */
  def forced(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "reliable" => reliable(df)
      case "local" | "none" => df.localCheckpoint()
      case other => throw new IllegalArgumentException(
        // same validation as apply(): a typo'd mode must fail loudly, not
        // silently run every forced() site in local mode
        s"$ModeKey must be local|reliable|none, got '$other'")
    }

  /** Run `body` on a fresh driver-local temp dir named `prefix…`, cut
    * its result loose from the dir with [[forced]], and delete the dir in
    * a `finally` — also when `body` or the materialization throws.
    * Driver-local, so for local masters or gate scaffolding only.
    */
  def scratch(prefix: String)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try forced(body(dir.toString))
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit
  }

  private def reliable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      sc.setCheckpointDir(spark.conf.get(
        DirKey,
        s"${sys.props("java.io.tmpdir")}/graft-ckpt-${sc.applicationId}"))
    }
    df.checkpoint()
  }

  /** Free per-query session residue in long batteries. `Verify`/`Bench`
    * run 120+ queries in one JVM: without this, every query's
    * localCheckpoint blocks (and every finished streaming query's
    * memory-sink temp view) stay pinned in executor storage for the rest
    * of the run, and the accumulated pressure lands on whichever heavy
    * query happens to run late (r7 gate: `dedup_minhash_lsh` 11.4 s in
    * battery vs 1.74 s isolated — same jar, same data). Safe between
    * queries: every `SparkEntry.queries` entry is self-contained (the
    * driver may run any of them standalone), so nothing from a completed
    * query is referenced again.
    */
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    // Unpersisting a locally-checkpointed RDD makes every concrete RDD
    // class logger (MapPartitionsRDD etc. under org.apache.spark.rdd)
    // emit "was locally checkpointed ... cannot be recomputed" at WARN —
    // INTENTIONAL here (released plans are never referenced again, see
    // above), and hundreds of them bury real warnings in the tail the
    // driver captures. Scope the package logger to ERROR for the
    // unpersist loop only, restoring the prior level after.
    val rddPkg = "org.apache.spark.rdd"
    val prior = org.apache.logging.log4j.LogManager.getLogger(rddPkg).getLevel
    org.apache.logging.log4j.core.config.Configurator
      .setLevel(rddPkg, org.apache.logging.log4j.Level.ERROR)
    try spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    finally org.apache.logging.log4j.core.config.Configurator
      .setLevel(rddPkg, prior)
    spark.catalog.clearCache()
    spark.catalog.listTables().filter("isTemporary").collect()
      .foreach(t => spark.catalog.dropTempView(t.name))
    // Dead state-store providers of finished streaming queries retain
    // their state maps on heap (and RocksDB native handles) until the
    // maintenance thread happens to evict them — in a one-JVM battery
    // that residue GC-taxes every later query (see StateStoreJanitor).
    // No active query is mid-batch when release() runs (gates stop their
    // streams before returning), so unloading here is the documented
    // executor-reassignment path, not a behavior change — but that is a
    // CONVENTION, so degrade to a no-op instead of failing an in-flight
    // batch against closed providers (fatal under local maxFailures=1)
    // if a future gate ever leaves a standing query running (r18
    // advice). The janitor consults the CROSS-SESSION active-query
    // registry (SharedState), not this session's manager — gates start
    // their streams on cloned sessions.
    // a skip is anomalous in the battery (every gate stops its streams)
    // and re-admits the dead-provider tax this hook removes — name it
    // loudly so a recurrence is diagnosable from the run log
    if (!org.apache.spark.sql.graft.StateStoreJanitor
        .unloadAllIfQuiescent(spark))
      System.err.println("[release] state-store unload SKIPPED: " +
        "active streaming query registered — dead-provider residue stays")
    // NOT called here: System.gc() — A/B'd at sf0.1 (full battery 104 s
    // without vs 115 s with); the explicit unpersist above already
    // releases the storage pressure that inflated late queries in r7,
    // and per-query full GCs measured as a net loss.
  }

  /** `df.materialize()` postfix form — the call-site idiom.
    * `df.materializeForced()` for sites whose inputs go away after the
    * call in ways [[scratch]] does not own (dropped tables, work dirs
    * on shared storage).
    */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def materialize(): DataFrame = Materialize(df)
    def materializeForced(): DataFrame = Materialize.forced(df)
  }
}
