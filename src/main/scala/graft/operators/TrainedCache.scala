package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-scoped memoization of small deterministic TRAINED artifacts
  * (k-means centroids, PQ codebooks, PCA states).
  *
  * Production separates training (occasional) from serving (per-query);
  * a gate where every sim_* query retrains its own coarse quantizer
  * measures the wrong cost model (r8: ~8-12 s of repeated identical
  * Lloyd's training across the battery). This cache makes the amortized
  * cost model real: the artifact is computed ONCE per (session, corpus,
  * hyperparameters), COLLECTED to the driver (all cached artifacts are
  * broadcast-scale by construction: c×dim centroids, mSub×kCode
  * codebooks), and re-emitted as a fresh local DataFrame per call.
  *
  * Why collect instead of caching the DataFrame: `Materialize.release`
  * runs between gate queries and unpersists every localCheckpoint block —
  * a cached plan would die with its blocks. Driver-held rows survive
  * release, and `createDataFrame` re-emission is exact (no value passes
  * through text or re-rounding), so probing a memoized artifact is
  * bitwise indistinguishable from probing a per-call retrain — the same
  * determinism contract `VecIndex` already relies on for its persisted
  * artifacts.
  *
  * Keys must fold in [[fingerprint]] of the corpus files: the driver
  * regenerates fixtures between rounds (the round-7 failure class), and
  * an (applicationId, dir)-only key would silently serve a stale artifact
  * against new data while the oracle reads the new files.
  */
object TrainedCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[Row])]()

  /** Wall-seconds of each first-build this session, by short display
    * name (summed if a name builds more than once, e.g. per corpus dir).
    * Bench emits this as `"shared_builds"` in its JSON line so the
    * pass-1/pass-2 asymmetry of whichever query first touches a shared
    * artifact is attributed in the artifact itself instead of needing an
    * isolated re-run.
    */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Seconds already attributed to NESTED recordBuild calls on this
    * thread — subtracted from the enclosing build so the registry's
    * entries are additive, not overlapping (e.g. the persisted vector
    * index's first build invokes the centroid first build; without the
    * exclusion the centroid seconds would land in BOTH entries and
    * shared_builds would overstate the total first-build cost).
    */
  private val nestedSecs = new ThreadLocal[Double] {
    override def initialValue(): Double = 0.0
  }

  /** Time a first-build closure under `name` (no-op passthrough for
    * name == ""). Used by [[memoDf]] and by the parquet-snapshot builders
    * (LSH pair snapshots, kNN edges, persisted indexes) whose artifacts
    * are data-sized and therefore bypass the driver-held row cache.
    * Nested builds self-attribute: the outer entry records only its OWN
    * seconds.
    */
  def recordBuild[A](name: String)(f: => A): A =
    if (name.isEmpty) f
    else {
      val outerNested = nestedSecs.get()
      nestedSecs.set(0.0)
      val t0 = System.nanoTime()
      try {
        val r = f
        val elapsed = (System.nanoTime() - t0) / 1e9
        buildSecs.merge(name, math.max(0.0, elapsed - nestedSecs.get()),
          (a, b) => a + b)
        r
      } finally {
        val elapsed = (System.nanoTime() - t0) / 1e9
        nestedSecs.set(outerNested + elapsed)
      }
    }

  /** Snapshot of first-build costs recorded so far (name → seconds). */
  def buildTimes: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    buildSecs.forEach((k, v) => b += (k -> v))
    b.result()
  }

  /** Compute-once-per-key: runs `f` on first use, collects, and rebuilds
    * a local DataFrame from the driver-held rows on every call. Only for
    * results that are small by construction (trained artifacts) — never
    * for data-sized tables. `name` (optional) attributes the first-build
    * cost in [[buildTimes]].
    *
    * `f` runs inside `computeIfAbsent`, and a `ConcurrentHashMap` mapping
    * function must not update its own map: a nested `memoDf` throws
    * "Recursive update" only when both keys share a bin, and is undefined
    * otherwise. So a `memoDf` call made while this thread runs a build
    * is refused every time, naming both keys; a build resolves the
    * artifacts it needs before its own `memoDf`.
    */
  def memoDf(spark: SparkSession, key: String, name: String = "")(
      f: => DataFrame): DataFrame = {
    Option(building.get()).foreach(outer => throw new IllegalStateException(
      s"TrainedCache.memoDf: '$key' requested while building '$outer'; " +
        "resolve it before the enclosing memoDf"))
    val (schema, rows) = cache.computeIfAbsent(key, _ => {
      building.set(key)
      try recordBuild(name) {
        val df = f
        (df.schema, df.collect())
      } finally building.remove()
    })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The key whose [[memoDf]] build runs on this thread, or null. */
  private val building = new ThreadLocal[String]

  /** Cheap corpus identity for cache keys: (path, length, mtime) of every
    * file under the given paths, digested. Catches the fixture-
    * regenerated-mid-session hazard without reading data. A missing path
    * fingerprints as absent rather than erroring — the downstream read
    * will produce the real error with a better message.
    */
  def fingerprint(paths: String*): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val parts = paths.flatMap { p =>
      val f = new java.io.File(p)
      if (!f.exists) Seq(s"$p:absent")
      else walk(f).map(x => s"${x.getPath}:${x.length}:${x.lastModified}")
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Session-shared ON-DISK artifact — the data-sized sibling of
    * [[memoDf]] (pair snapshots, published lakes, persisted indexes are
    * data-sized, so they land as files, never driver-held rows):
    * `build` runs ONCE per (name, applicationId, corpus fingerprint of
    * `fixturePaths`) into a fresh shutdown-cleaned temp dir and the
    * path it returns is served to every later caller. For DETERMINISTIC
    * builds only — sharing must be bitwise-invisible to the oracle.
    * Consumers must treat the artifact as READ-ONLY. First-build wall
    * time is attributed to `name` in [[buildTimes]] (Bench's
    * `shared_builds`).
    */
  def sharedPath(spark: SparkSession, name: String,
      fixturePaths: Seq[String])(build: String => String): String =
    sessionDir(spark, name, fixturePaths)(tmp => recordBuild(name)(build(tmp)))

  /** The dir half of [[sharedPath]], untimed: a temp dir made once per
    * (`kind`, applicationId, corpus fingerprint of `fixturePaths`) and
    * deleted at JVM exit; `init` runs once on it and the path it returns
    * is served to every later caller. For session-long dirs that a
    * caller fills itself (a persisted index a gate ingests into).
    */
  def sessionDir(spark: SparkSession, kind: String,
      fixturePaths: Seq[String])(init: String => String): String =
    sharedPaths.computeIfAbsent(
      kind + "|" + spark.sparkContext.applicationId + "|" +
        fingerprint(fixturePaths: _*),
      _ => {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft_${kind}_shared").toString
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(tmp)): Unit))
        init(tmp)
      })

  private val sharedPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A SQL-identifier-safe hex digest of `path`: names the catalog table
    * over a [[sessionDir]]. */
  def tableTag(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Register `table` in THIS session's catalog over pre-written
    * bucketed parquet files at `path` — the mount half of serving a
    * [[sharedPath]] bucketed artifact (`saveAsTable` writes files +
    * catalog entry together; a later session has the files but not the
    * entry). The files
    * must come from a bucketBy writer with the SAME spec: the bucket id
    * rides the file name (`..._NNNNN.c000...`), which copy/rename
    * preserve, so the re-registered table keeps the zero-exchange join
    * property the layout was built for. Idempotent per session. */
  def registerBucketedTable(spark: SparkSession, table: String,
      path: String, bucketCol: String, buckets: Int,
      props: Map[String, String] = Map.empty): Unit =
    if (!spark.catalog.tableExists(table)) {
      val ddl = spark.read.parquet(path).schema.toDDL
      spark.sql(s"CREATE TABLE $table ($ddl) USING parquet " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
        s"INTO $buckets BUCKETS LOCATION '$path'")
      if (props.nonEmpty)
        spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
          props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    }

  /** Test seam: drop every memoized artifact (a spec that rewrites a
    * corpus in place needs the next call to retrain).
    */
  private[graft] def clear(): Unit = {
    cache.clear(); buildSecs.clear(); sharedPaths.clear()
  }
}
