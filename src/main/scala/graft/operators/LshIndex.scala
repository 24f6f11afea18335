package graft.operators

import graft.Materialize.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band-bucket index with a build / append / probe
  * lifecycle — the multi-ingest form of the incremental near-dup operator.
  *
  * The one-shot [[TextDedup.minhashLshPairsIncremental]] demonstrates the
  * incremental IDENTITY (probe-side pairs ≡ full-batch pairs restricted to
  * pairs-touching-new) but rebuilds the corpus-sized index inside every
  * call. This object is the production lifecycle that makes the O(new)
  * cost claim real ACROSS ingest cycles:
  *
  *  - [[build]] writes the settled corpus's single-key band rows ONCE as a
  *    bucketed+sorted table (band id folded into the key, so the probe
  *    join is single-key and the index side reads bucket-aligned with no
  *    exchange — the shape `IncrementalDedupSpec` pins);
  *  - [[ingest]] bands ONLY the new batch, appends its rows to the index
  *    (settled files are never rewritten — append lays down new bucket
  *    files next to the old ones, byte-identical history, spec-pinned by
  *    `LshIndexSpec`), and probes the same banded rows against the table;
  *  - verification shingles ONLY the docs that appear in some candidate
  *    pair (a semi-join restriction of the doc store), so per-ingest work
  *    is O(new × bucket occupancy) in the candidate join and
  *    O(candidate docs) in the verify — never O(corpus).
  *
  * The index's (k, bands) are recorded as table properties at build time
  * and re-read by append/probe, so an ingest cannot silently band with
  * different parameters than the index was built with.
  *
  * At 100 TB: the index table lives on durable storage and persists across
  * daily ingests; each ingest's write volume is `bands × |new|` rows, the
  * probe shuffles only the new batch's band rows (the bucketed index side
  * contributes no exchange), and the verify joins texts for candidate ids
  * only. Re-bucketing (when the corpus outgrows the bucket count) is a
  * [[build]] from the compacted corpus — an explicit, occasional rebuild,
  * not a per-ingest cost.
  */
object LshIndex {

  private val KProp = "graft.lsh.k"
  private val BandsProp = "graft.lsh.bands"

  /** Tombstone side-table name for an index table — the delete cycle's
    * storage (see [[remove]]).
    */
  private[graft] def tombstoneTable(table: String): String = s"${table}_tombs"

  /** Single-key band rows (doc_id, ikey) for a doc set — the index row
    * format: `ikey = "<band>:<bucket-md5>"` folds the band id into the
    * key so bucketing and the probe join distribute on ONE column.
    */
  def bandRows(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    // repartition: a single-file batch would shingle+hash in ONE task
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = docs.repartition(par)
      .select(col(idCol).as("doc_id"),
        explode(TextDedup.bigramShingles(col(textCol))).as("s"))
      .select(col("doc_id"), TextDedup.shingleHash(col("s")).as("hm"))
    val mh = TextDedup.signaturesFromHashes(ex, k)
    TextDedup.bandBuckets(mh, k, bands)
      .select(col("doc_id"),
        concat(col("b").cast("string"), lit(":"), col("bkey")).as("ikey"))
  }

  /** Create (or replace) the persisted index from the settled corpus.
    * One corpus-sized banding pass; every later [[ingest]] pays only its
    * own batch.
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, table: String,
      k: Int = 16, bands: Int = 4, buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    bandRows(docs, idCol, textCol, k, bands)
      .write.mode("overwrite").option("path", path)
      .bucketBy(buckets, "ikey").sortBy("ikey").saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$KProp' = '$k', '$BandsProp' = '$bands')")
    // a build IS the compaction: the new index holds only live docs, so
    // any tombstones from the previous generation are spent
    spark.sql(s"DROP TABLE IF EXISTS ${tombstoneTable(table)}")
  }

  /** [[build]] with the banded FILES shared through
    * [[TrainedCache.sharedPath]] when `storeFixtures` names the corpus
    * files: one immutable settled-index snapshot per (application,
    * corpus fingerprint), which each caller COPIES to its own `path`
    * before mounting, because [[ingest]] appends in place and the shared
    * artifact must stay read-only. With no fixtures this is exactly a
    * fresh [[build]].
    */
  def buildOrServe(
      settled: DataFrame, idCol: String, textCol: String,
      path: String, table: String,
      k: Int = 16, bands: Int = 4, buckets: Int = 16,
      buildLabel: String, storeFixtures: Seq[String] = Nil): Unit = {
    val spark = settled.sparkSession
    if (storeFixtures.isEmpty)
      TrainedCache.recordBuild(buildLabel) {
        build(settled, idCol, textCol, path, table, k, bands, buckets)
      }
    else {
      val stored = TrainedCache.sharedPath(spark, buildLabel,
        storeFixtures) { tmp =>
        val p = s"$tmp/index"
        // the bucketed writer only exists as saveAsTable: build through a
        // throwaway catalog name and drop it (external table — the files
        // stay; only the session catalog entry goes)
        val tt = s"${table}_storebuild"
        try build(settled, idCol, textCol, p, tt, k, bands, buckets)
        finally spark.sql(s"DROP TABLE IF EXISTS $tt")
        p
      }
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(stored), new java.io.File(path))
      TrainedCache.registerBucketedTable(spark, table, path, "ikey",
        buckets, Map(KProp -> k.toString, BandsProp -> bands.toString))
    }
  }

  /** Delete docs from the index — LOGICAL deletes, the strategy the
    * layout dictates: the table is ikey-bucketed (a doc's `bands` rows
    * scatter across buckets), so a physical delete would rewrite the
    * whole table. Instead victims land in a tombstone side-table that
    * [[probe]]/[[ingest]] anti-join on the candidate-RESTRICTED pair set
    * — O(candidates) extra work per probe, zero index I/O per delete,
    * and the bucketed zero-exchange probe shape is untouched (the filter
    * runs above the index join, never below it). The next [[build]]
    * (the explicit occasional compaction) clears the tombstones.
    *
    * The side-table is an APPEND-ONLY delta log: a remove appends
    * (doc_id, +1) rows; [[compact]]'s retire step appends (doc_id, −k)
    * rows for the victims it applied; a doc is live-tombstoned iff its
    * net sum is positive. No operation ever rewrites the log, so a
    * remove() racing ANY phase of a compaction — snapshot, index
    * rewrite, swap, or the retire append itself — cannot be lost: its
    * +1 row commutes with every −k row (the r12 verdict's residual
    * overwrite-under-reader race, closed structurally). The log's size
    * is O(remove volume + compactions), reset by [[build]].
    *
    * Contrast [[VecIndex.remove]]: codes there are PARTITIONED by cell,
    * so physical touched-partitions-only deletes are cheap; here the
    * bucketed-by-key layout makes deletion vectors the right trade.
    * Without a remove, a doc deleted from the doc store whose band rows
    * survive in the index fails the probe's drift check by design — this
    * is the operation that keeps store and index consistent.
    */
  def remove(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    meta(spark, table) // fail fast on a table build() never produced
    ids.toDF("doc_id").distinct()
      .withColumn("delta", lit(1L))
      .write.mode("append").saveAsTable(tombstoneTable(table))
  }

  /** Per-JVM memo: log-version fingerprint → does the log net to ANY
    * live tombstone? Bounds the probe-side cost of the append-only delta
    * log: without it every probe paid one groupBy-sum job over the log
    * even in the steady state where [[compact]] has retired everything
    * (net ≤ 0 for every doc) — the r13 `dedup_incremental` perf finding.
    * The fingerprint is the log table's file listing (path:len:mtime
    * through the Hadoop FS, so hdfs:// and s3a:// logs version the same
    * way), so any append — a remove() or a retire — invalidates exactly
    * one entry and the next probe re-aggregates once. A remove racing a
    * probe may or may not be seen by that probe (same as before the memo:
    * concurrent remove/probe are unordered); it is always seen by every
    * probe that starts after it lands.
    */
  private val liveCache =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  private def logFingerprint(spark: SparkSession, tt: String): String = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tt)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(loc)) {
      val it = fs.listFiles(loc, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile)
          parts += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      }
    }
    tt + "|" + java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Net-live tombstoned docs: per-doc delta sum over the append-only
    * log, positive = still tombstoned. (doc_id, net) — O(log) aggregate,
    * and the log is remove-volume-sized, never corpus-sized. Returns None
    * (zero downstream cost) when the log is absent OR nets to empty —
    * the latter memoized per log version (see [[liveCache]]), so the
    * steady state after a compaction pays a listing, not a Spark job.
    */
  private[graft] def liveTombstones(
      spark: SparkSession, table: String): Option[DataFrame] = {
    val tt = tombstoneTable(table)
    if (!spark.catalog.tableExists(tt)) None
    else {
      def agg = spark.table(tt).groupBy("doc_id")
        .agg(sum("delta").as("net")).filter(col("net") > 0)
      if (liveCache.size > 256) liveCache.clear() // stale-version bound
      val hasLive = liveCache.computeIfAbsent(
        logFingerprint(spark, tt), _ => !agg.isEmpty)
      if (hasLive) Some(agg) else None
    }
  }

  /** Candidate pairs minus any pair touching a net-live tombstoned doc.
    * Runs on the candidate-restricted set (post index-join), so the
    * bucketed probe shape and its no-exchange index side are unchanged.
    */
  private def dropTombstoned(
      spark: SparkSession, table: String, cand: DataFrame): DataFrame =
    liveTombstones(spark, table) match {
      case None => cand
      case Some(tomb) =>
        cand.join(tomb, cand("doc_a") === tomb("doc_id"), "left_anti")
          .join(tomb, cand("doc_b") === tomb("doc_id"), "left_anti")
    }

  /** The index's recorded (k, bands, buckets) — the single source of truth
    * for every post-build operation.
    */
  private def meta(spark: SparkSession, table: String): (Int, Int, Int) = {
    val cat = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    def prop(p: String): Int = cat.properties.getOrElse(p,
      throw new IllegalStateException(
        s"$table has no $p property — not built by LshIndex.build")).toInt
    val buckets = cat.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalStateException(s"$table is not bucketed"))
    (prop(KProp), prop(BandsProp), buckets)
  }

  /** Physical tombstone compaction: rewrite the index from its OWN band
    * rows minus tombstoned docs — no corpus re-shingle, no re-minhash
    * (the band rows already carry their band keys). One staged rewrite
    * of the bucketed table, after which the tombstone side-table is
    * spent and probes stop paying the per-candidate anti-join. Run it
    * when the accumulated tombstone fraction makes that anti-join (or
    * the dead rows' scan volume) material; [[build]] from the compacted
    * doc store remains the full rebuild for k/bands/bucket-count CHANGES
    * — this preserves them, and costs one index scan + write instead of
    * re-shingling the corpus.
    */
  /** Failure/concurrency-injection seam: invoked right after [[compact]]
    * snapshots the tombstone table — the widest window in which a
    * concurrent remove() can land mid-compaction. Tests swap in a remove;
    * production never touches it.
    */
  private[graft] var afterTombSnapshotHook: () => Unit = () => ()

  /** Second injection seam: invoked right before [[compact]]'s retire
    * step appends the applied (−k) markers — a remove() landing HERE is
    * concurrent with the retire itself, the window the pre-r13 rewrite
    * design could not survive without a single-writer slot.
    */
  private[graft] var beforeTombRetireHook: () => Unit = () => ()

  def compact(spark: SparkSession, table: String): Unit = {
    val tmpTable = s"${table}_compacting"
    // self-heal a crash that landed between the old generation's DROP and
    // the staged generation's RENAME: the staged table already holds the
    // COMPLETE compacted generation (band rows + k/bands properties), so
    // finishing the swap is one catalog op. Any other crash point leaves
    // the live table untouched and at worst a stale staging table, which
    // the next compact drops and rebuilds.
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(tmpTable)) {
      spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
      // tombstones are NOT dropped here: the crash lost the snapshot of
      // which victims the staged generation applied, and a remove() that
      // landed after it was taken must survive. Spent tombstones (docs the
      // new generation no longer holds) are harmless — the probe anti-join
      // matches nothing — and the next compact retires them.
      // the pre-crash generation's files are still on disk at the OTHER
      // ping-pong path — delete them, or the index's footprint doubles
      // until a future compaction happens to land back on that path
      val healedPath = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
        .location.toString.stripSuffix("/")
      val prevPath =
        if (healedPath.endsWith(".next")) healedPath.stripSuffix(".next")
        else healedPath + ".next"
      val pp = new org.apache.hadoop.fs.Path(prevPath)
      pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(pp, true)
      return
    }
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // stale leftover staging
    val (k, bands, buckets) = meta(spark, table)
    val cat = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val oldPath = cat.location.toString.stripSuffix("/")
    val tt = tombstoneTable(table)
    // SNAPSHOT the net-live victims this compaction applies, WITH their
    // net counts (materializeForced: the (id, net) pairs must be concrete
    // before the log can grow under us). A remove() landing after this
    // point appends to the live log, and the finish step below retires
    // ONLY the snapshot's nets — so late removes survive the swap instead
    // of being silently discarded by a wholesale DROP (the r10 advice
    // hole: a doc removed mid-compaction would have resurrected in probe
    // results).
    val tombSnap =
      liveTombstones(spark, table).map(_
        .select(col("doc_id").as("_victim"), col("net").as("_net"))
        .materializeForced())
    afterTombSnapshotHook()
    val live = tombSnap match {
      case None => spark.table(table)
      case Some(tomb) =>
        spark.table(table)
          .join(tomb, col("doc_id") === col("_victim"), "left_anti")
    }
    // generations ping-pong between <path> and <path>.next so repeated
    // compactions don't grow the path; the new generation lands COMPLETE
    // (data + properties) before the old one is touched
    val newPath =
      if (oldPath.endsWith(".next")) oldPath.stripSuffix(".next")
      else oldPath + ".next"
    live.write.mode("overwrite").option("path", newPath)
      .bucketBy(buckets, "ikey").sortBy("ikey").saveAsTable(tmpTable)
    spark.sql(s"ALTER TABLE $tmpTable SET TBLPROPERTIES " +
      s"('$KProp' = '$k', '$BandsProp' = '$bands')")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    // Retire only the APPLIED victims, by APPENDING their negated
    // snapshot nets to the delta log — never a rewrite, never a DROP, so
    // there is NO window in which a concurrent remove() can be lost: its
    // +1 row commutes with these −k rows (a doc removed again mid-retire
    // nets back to +1 and stays live). A crash before the append leaves
    // the applied victims net-positive — conservative: their anti-join
    // matches nothing in the new generation, and the next compact
    // re-applies (no-op) and retires them. The log is physically reset
    // only by [[build]], whose full-rebuild semantics are single-writer
    // by contract anyway.
    beforeTombRetireHook()
    tombSnap.foreach { applied =>
      applied
        .select(col("_victim").as("doc_id"), (-col("_net")).as("delta"))
        .write.mode("append").saveAsTable(tt)
    }
    val op = new org.apache.hadoop.fs.Path(oldPath)
    op.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(op, true)
  }

  /** Append a new batch's band rows to the index WITHOUT probing (bulk
    * backfill). Write volume is O(new): settled bucket files are never
    * rewritten — the append lays new files into the same bucket layout.
    */
  def append(
      spark: SparkSession, table: String,
      newDocs: DataFrame, idCol: String, textCol: String): Unit = {
    val (k, bands, buckets) = meta(spark, table)
    appendRows(table, bandRows(newDocs, idCol, textCol, k, bands), buckets)
  }

  private def appendRows(table: String, rows: DataFrame, buckets: Int): Unit =
    rows.write.mode("append")
      .bucketBy(buckets, "ikey").sortBy("ikey").saveAsTable(table)

  /** Near-dup pairs between a new batch and the CURRENT index contents,
    * without modifying the index. `corpus` is the doc store (must cover
    * every id the index holds plus the new batch) — consulted only for
    * the docs that appear in some candidate pair.
    */
  def probe(
      spark: SparkSession, table: String,
      newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val (k, bands, _) = meta(spark, table)
    probeRows(spark, table, bandRows(newDocs, idCol, textCol, k, bands),
      corpus, idCol, textCol, threshold)
  }

  /** One daily-ingest cycle: band the new batch ONCE, append those rows to
    * the index, then probe them against the (now-updated) table — so the
    * emitted pairs cover new×old AND new×new, exactly the full-batch pair
    * set restricted to pairs touching the new batch.
    */
  def ingest(
      spark: SparkSession, table: String,
      newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val (k, bands, buckets) = meta(spark, table)
    // materialize: the banded batch is consumed twice (append + probe) and
    // the append is a side effect — recomputation must not re-shingle
    val nb = bandRows(newDocs, idCol, textCol, k, bands).materialize()
    appendRows(table, nb, buckets)
    probeRows(spark, table, nb, corpus, idCol, textCol, threshold)
  }

  private def probeRows(
      spark: SparkSession, table: String, newBandRows: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val nb = newBandRows.select(col("doc_id").as("nid"), col("ikey"))
    // bucketed index side: no exchange (IncrementalDedupSpec pins this);
    // only the new batch's band rows shuffle
    val cand = dropTombstoned(spark, table,
      spark.table(table).join(nb, "ikey")
        .filter(col("doc_id") =!= col("nid"))
        .select(least(col("doc_id"), col("nid")).as("doc_a"),
          greatest(col("doc_id"), col("nid")).as("doc_b"))
        .distinct())
      .materialize() // feeds the id restriction AND the verify join
    // verify reads texts for candidate docs ONLY — at scale the candidate
    // set is a sliver of the corpus, so this is the difference between
    // O(candidates) and re-shingling 100 TB per ingest. LEFT join + raise:
    // a candidate id the doc store cannot resolve (index and store have
    // drifted — e.g. a doc deleted from the store whose band rows still
    // sit in the index) must FAIL the probe, not silently drop its pairs.
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val par = spark.sparkContext.defaultParallelism
    val sh = ids
      .join(corpus.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text"), raise_error(concat(
          lit("LshIndex: candidate doc_id "), col("doc_id").cast("string"),
          lit(" is in the index but not the doc store — rebuild the index" +
            " from the compacted corpus")))).as("text"))
      .repartition(par)
      .select(col("doc_id"),
        explode(TextDedup.bigramShingles(col("text"))).as("s"))
      .materialize() // feeds both intersect branches and the size agg
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    TextDedup.verifyJaccardCore(cand, sh, sz, threshold)
  }
}
