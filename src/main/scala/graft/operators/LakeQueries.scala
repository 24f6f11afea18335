package graft.operators

import graft.{Materialize, QueryRegistry}
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake / dataset-versioning query family ([EXT]): the snapshot audit
  * side of the publishing discipline `sources/Lake` implements (the
  * write side is spec-tested in `LakeSpec`; diffing is the read side a
  * gate can oracle-check).
  */
object LakeQueries extends QueryRegistry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // Session-shared settled-v2 LSH index for the diff-curation query —
  // the same amortization discipline as DedupQueries' shared index:
  // the settled corpus bands once per (session, corpus fingerprint);
  // every later invocation pays one O(diff) ingest cycle (repeat-ingest
  // output invariance is the operator's pinned contract, so gate passes
  // sharing the index hash-match the single-cycle result).
  private def diffLshParts(s: SparkSession, dir: String): (String, String) = {
    val path = TrainedCache.sessionDir(s, "lshidx_diff",
      Seq(s"$dir/documents.parquet"))(tmp => s"$tmp/index")
    (s"graft_lsh_diff_${TrainedCache.tableTag(path)}", path)
  }

  /** Stage `df` as ONE named file under `srcDir` — the file-source drop
    * unit of the streaming-publisher gate queries (path-ordered names =
    * deterministic micro-batch order under maxFilesPerTrigger=1).
    */
  private def writeFlat(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = s"$srcDir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$srcDir/$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** The deterministic v2 corpus both engines derive from the fixture:
    * every 70th doc removed, every 40th survivor edited, every 50th
    * re-published under a new id — shared by the diff ledger query and
    * the diff-driven re-curation capstone.
    */
  private def derivedV2(v1: DataFrame): DataFrame =
    v1.filter(col("doc_id") % 70 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 40 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"))
      .union(v1.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))

  /** [[derivedV2]] carrying `lang` for the published partition layout
    * (added docs inherit their source doc's lang) — shared by the two
    * versioned-lake gate queries.
    */
  private def derivedV2Lang(v1: DataFrame): DataFrame =
    v1.filter(col("doc_id") % 70 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 40 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"), col("lang"))
      .union(v1.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          col("lang")))

  /** Per-lang (n_docs, sum_len, min_id, max_id) of `df`, tagged `which`
    * — the read-back every publish-lifecycle gate hashes per version.
    */
  private def langAgg(df: DataFrame, which: String): DataFrame = df
    .groupBy("lang")
    .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_len"),
      min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    .select(lit(which).as("which"), col("lang"), col("n_docs"),
      col("sum_len"), col("min_id"), col("max_id"))

  /** The shared full→delta→merge three-generation feed scenario
    * (`lake_change_feed`, `lake_feed_paged`, `lake_follow_changes` —
    * all oracle-checked against the SAME derived SQL).
    */
  private def buildFeedLake(s: SparkSession, dir: String,
      root: String): Unit = {
    val d = docs(s, dir).select("doc_id", "text", "lang")
    Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
      maxRecordsPerFile = 1000000L, digest = true)
    // v1: delta rewriting 'fr' (every text edited), adding 'zz',
    // and re-landing 'zh' unchanged (the digest-skip probe)
    val delta1 = d.filter(col("lang") === "fr")
      .select(col("doc_id"),
        concat(col("text"), lit(" [d1]")).as("text"), col("lang"))
      .union(d.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
          lit("zz").as("lang")))
      .union(d.filter(col("lang") === "zh")
        .select(col("doc_id"), col("text"), col("lang")))
    Lake.publishDelta(delta1, root, Seq("lang"), Seq("doc_id"),
      maxRecordsPerFile = 1000000L, digest = true)
    // v2: merge a netted changelog into de/es (disjoint from v1's
    // partitions, so each oracle step derives from the base alone)
    val sc = d.filter(col("lang").isin("de", "es"))
    val changes = sc
      .filter(col("doc_id") % 4 === 0 && col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        concat(col("text"), lit(" [m]")).as("text"), col("lang"),
        lit("upsert").as("op"))
      .union(sc.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          col("lang"), lit("delete").as("op")))
      .union(sc.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text"),
          col("lang"), lit("upsert").as("op")))
    Lake.mergeDelta(changes, root, Seq("doc_id"), Seq("lang"),
      Seq("doc_id"), maxRecordsPerFile = 1000000L, digest = true)
  }

  /** Session-shared three-generation feed lake (the sharedLshPairs
    * precedent one surface over): [[buildFeedLake]] runs ONCE per
    * (session, corpus fingerprint) into a shutdown-cleaned tmp, and the
    * paged and standing-consumer gates read it READ-ONLY — the
    * production cost model, where one published lake serves every
    * downstream feed consumer rather than each consumer re-publishing
    * the corpus. `lake_change_feed` still builds its own lake: it IS
    * the producer-stage (publish + feed) measurement. Sharing is
    * hash-invisible: the build is deterministic, so every consumer
    * keeps its unchanged oracle. Consumers must not mutate the shared
    * root (no vacuum/publish/rollback); cursor files live in the
    * consumer's own work dir.
    */
  private def sharedFeedLake(s: SparkSession, dir: String): String =
    TrainedCache.sharedPath(s, "feed_lake",
        Seq(s"$dir/documents.parquet")) { tmp =>
      val root = s"$tmp/lake"
      buildFeedLake(s, dir, root)
      root
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // [EXT] refused-publish audit (r16): a drop-mode streaming batch
    // whose EVERY row violates the expectations is refused (an empty
    // full generation is unreadable) but must make progress AND keep
    // the evidence — the quarantine re-homes under _QUARANTINE_REFUSED
    // keyed by the batch id, the stream advances, and the audit is the
    // oracle-checked output here (the violating half of the corpus,
    // named rule, replay-stable key).
    "lake_refused_quarantine" -> ((s, dir) =>
      Materialize.scratch("graft_lake_refq") { work =>
        val root = s"$work/lake"
        val d = docs(s, dir).select("doc_id", "text", "lang")
        val expect = Seq("even_id" -> (col("doc_id") % 2 === 0))
        Lake.publishBatch(d.filter(col("doc_id") % 2 === 0), root,
          Seq("lang"), Seq("doc_id"), 1000000L, keep = 3, batchId = 0L,
          expect = expect, onViolation = "drop")
        // the poison batch: every row violates -> refused + skipped
        Lake.publishBatch(d.filter(col("doc_id") % 2 === 1), root,
          Seq("lang"), Seq("doc_id"), 1000000L, keep = 3, batchId = 1L,
          expect = expect, onViolation = "drop")
        // the stream advanced: the clean half is still current (v=0)
        require(Lake.currentVersion(s, root).contains(0L),
          "poison batch moved the pointer")
        Lake.readRefusedQuarantine(s, root)
          .select(col("doc_id"), col("_graft_violated").as("violated"),
            col("_graft_refusal").as("refusal"))
      }),
    // [EXT] paged long-range drain (r16): the DR/catch-up shape —
    // changesBetweenPaged over the same three-generation lake the
    // lake_change_feed query builds, page width 1, pages unioned. The
    // oracle is IDENTICAL to lake_change_feed's, so the hash match
    // proves paged ≡ one-shot ≡ the derived truth.
    "lake_feed_paged" -> ((s, dir) => {
      // consumes the session-shared feed lake READ-ONLY: this gate
      // measures the paged CONSUMPTION shape, not the publish
      val root = sharedFeedLake(s, dir)
      import graft.Materialize.Ops
      Lake.changesBetweenPaged(s, root, 0L, 2L, "doc_id", "text",
          maxPlanSteps = 1)
        .map(_._1.materializeForced())
        .reduce(_.unionByName(_))
    }),
    // [EXT] standing consumer loop (r16): followChanges drives the
    // crash-safe cursor protocol over the same three-generation lake —
    // cursor seeded at 0, page width 1, every delivered page collected.
    // Shares lake_change_feed's oracle, so the hash proves the standing
    // loop delivers exactly the feed, no page lost or duplicated, with
    // the cursor landing on the current version.
    "lake_follow_changes" -> ((s, dir) =>
      Materialize.scratch("graft_lake_flw") { work =>
        // shared feed lake READ-ONLY (the standing CONSUMPTION shape);
        // only the cursor is this gate's own state, in its own work dir
        val root = sharedFeedLake(s, dir)
        val cursor = s"$work/cursor"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(cursor), "0")
        val pages = scala.collection.mutable.ArrayBuffer[DataFrame]()
        val n = Lake.followChanges(s, root, cursor, "doc_id", "text",
          maxPlanSteps = 1) { (df, _) => pages += df }
        require(n == 2 && java.nio.file.Files
            .readString(java.nio.file.Paths.get(cursor)).trim == "2",
          s"standing loop delivered $n pages / cursor off")
        pages.reduce(_.unionByName(_))
      }),
    // [EXT] snapshot diff: v2 is derived deterministically from the
    // fixture so both engines diff the same two versions. Output = the
    // added/removed/changed ledger only.
    "lake_snapshot_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select("doc_id", "text")
      Lake.snapshotDiff(v1, derivedV2(v1), "doc_id", "text")
    }),
    // [EXT] the production re-curation loop, composed end-to-end and
    // hash-gated: a new dataset version lands, snapshotDiff names the
    // added/changed docs, and ONLY those re-enter near-dup pairing — the
    // settled corpus is banded into the persisted LSH index once and
    // never re-paired against itself. The oracle recomputes the full v2
    // pair set from scratch and restricts it to pairs touching a dirty
    // doc, so the hash match PROVES incremental ≡ full recompute on the
    // changed set. At 100 TB this is the difference between re-curating
    // a day's delta and re-shingling the lake.
    "lake_diff_curate" -> ((s, dir) => {
      val v1 = docs(s, dir).select("doc_id", "text")
      val v2 = derivedV2(v1)
      val dirty = Lake.snapshotDiff(v1, v2, "doc_id", "text")
        .filter(col("change").isin("added", "changed"))
        .select(col("doc_id"), lit(true).as("_new"))
      // membership flag joined on BEFORE the operator: its isNew column
      // splits settled/new without a driver-side id list
      val tagged = v2.join(dirty, Seq("doc_id"), "left")
      val (table, path) = diffLshParts(s, dir)
      TextDedup.minhashLshPairsIncrementalAmortized(tagged,
        coalesce(col("_new"), lit(false)), "doc_id", "text",
        table = table, path = path, buildLabel = "lsh_index_diff",
        storeFixtures = Seq(s"$dir/documents.parquet"))
    }),
    // [EXT] incremental compaction (the OPTIMIZE maintenance pass): the
    // corpus is staged deliberately fragmented (per-file row cap forces
    // many small files per lang dir), Lake.compact restores the layout
    // in place via dynamic partition overwrite, and the output is an
    // aggregate of what a consumer READS BACK from the compacted dirs —
    // the hash match proves the rewrite moved bytes, not data. File-count
    // and O(touched) assertions live in LakeCompactSpec (not
    // SQL-expressible). The staging dir is gate-local scaffolding; the
    // operator itself takes any Hadoop-FS path.
    "lake_compact" -> ((s, dir) =>
      Materialize.scratch("graft_lake_compact") { work =>
        docs(s, dir)
          .repartition(col("lang"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("maxRecordsPerFile", 40L)
          .partitionBy("lang").parquet(work)
        Lake.compact(s, work, Seq("lang"), Seq("doc_id"),
          targetBytes = 32L * 1024 * 1024)
        s.read.parquet(work)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("doc_id").as("n_ids"),
            sum("n_chars").as("sum_chars"),
            sum(length(col("text"))).as("sum_len"),
            min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
      }),
    // [EXT] versioned publishing (MVCC-lite): v1 and a deterministic v2
    // are published as immutable generations behind the atomic _CURRENT
    // pointer; the output proves (a) the pinned OLD generation still
    // reads exactly v1 after v2 shipped (time travel / reproducibility),
    // (b) the pointer read is v2, and (c) one rollbackTo flip makes the
    // current read v1 again — no data movement. Each leg is an integer
    // aggregate the oracle recomputes from the fixture, so the hash
    // match pins the whole version lifecycle, not just "rows came back".
    // The staging root is gate-local scaffolding; the operator takes any
    // Hadoop-FS path.
    "lake_publish_versions" -> ((s, dir) =>
      Materialize.scratch("graft_lake_ver") { work =>
        val root = s"$work/lake"
        val v1 = docs(s, dir).select("doc_id", "text", "lang")
        val v2 = derivedV2Lang(v1)
        val ver1 = Lake.publishVersion(v1, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        Lake.publishVersion(v2, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        def agg(df: DataFrame, which: String): DataFrame = df
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("doc_id").as("n_ids"),
            sum(length(col("text"))).as("sum_len"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .select(lit(which).as("which"), col("lang"), col("n_docs"),
            col("n_ids"), col("sum_len"), col("min_id"), col("max_id"))
        val pinnedOld = agg(
          Lake.readVersion(s, root, Some(ver1)), "pinned_v1")
        val current = agg(Lake.readVersion(s, root), "current_v2")
        Lake.rollbackTo(s, root, ver1)
        val rolledBack = agg(Lake.readVersion(s, root), "rolled_back")
        pinnedOld.unionAll(current).unionAll(rolledBack)
      }),
    // [EXT] the audit a pipeline runs before moving its data dependency
    // from one PUBLISHED version to another: both diff sides come back
    // through readVersion (pinned, immutable generations) — proving the
    // versioned read path feeds snapshotDiff exactly what the pointer
    // writes published. The oracle recomputes the same ledger from the
    // fixture, so the hash match pins publish → readVersion → diff
    // end-to-end, not just "rows came back".
    "lake_version_diff" -> ((s, dir) =>
      Materialize.scratch("graft_lake_vdiff") { work =>
        val root = s"$work/lake"
        val v1 = docs(s, dir).select("doc_id", "text", "lang")
        val ver1 = Lake.publishVersion(v1, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        val ver2 = Lake.publishVersion(derivedV2Lang(v1), root, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 1000000L)
        Lake.diffVersions(s, root, ver1, ver2, "doc_id", "text")
      }),
    // [EXT] change data feed: v0 = full corpus, v1 = a DELTA touching
    // only the 'fr' partition (+ a brand-new 'zz' partition), v2 = a
    // CDC MERGE into de/es (deletes, edits, inserts). The feed stacks
    // one (v, key, change) ledger per step, and the oracle recomputes
    // both steps from the fixture — so the hash pins the per-version
    // semantics (change attributed to the version that introduced it)
    // AND the owner-map pruning (a wrong dir-diff plan would emit
    // phantom adds/removes for inherited partitions). Digests are ON
    // for every publish and the delta REWRITES 'zh' with byte-identical
    // content — its digest-equal skip must contribute zero ledger rows
    // (the oracle has none for zh), so a false skip OR a phantom change
    // both fail the hash. The O(changed) read-side claim is measured in
    // LakeChangeFeedSpec/LakeDigestSpec; at 100 TB the feed is how
    // downstream dedup/decontam tails a maintained lake without
    // re-reading the settled corpus.
    "lake_change_feed" -> ((s, dir) =>
      Materialize.scratch("graft_lake_cdf") { work =>
        val root = s"$work/lake"
        buildFeedLake(s, dir, root)
        Lake.changesBetween(s, root, 0L, 2L, "doc_id", "text")
      }),
    // [EXT] publish-time data-quality expectations under the driver
    // hash: malformed rows are injected deterministically (empty text,
    // unknown lang), the publish runs in drop mode, and the output is
    // the published per-lang aggregate UNION the quarantine ledger
    // grouped by WHICH expectations failed. The oracle recomputes both
    // sides from the predicates themselves (not the injection rule), so
    // the hash pins that exactly the violating rows — and ALL of them —
    // were quarantined with the right names, and that the published
    // generation is exactly the clean subset.
    "lake_publish_expect" -> ((s, dir) =>
      Materialize.scratch("graft_lake_exp") { work =>
        val root = s"$work/lake"
        val d = docs(s, dir).select("doc_id", "text", "lang")
        val m = d.select(col("doc_id"),
          when(col("doc_id") % 53 === 0, lit("")).otherwise(col("text"))
            .as("text"),
          when(col("doc_id") % 67 === 0, lit("xx")).otherwise(col("lang"))
            .as("lang"))
        Lake.publishVersion(m, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L,
          expect = Seq(
            "text_nonempty" -> (length(col("text")) > 0),
            "lang_known" -> col("lang").isin("de", "en", "es", "fr", "zh")),
          onViolation = "drop")
        val pub = Lake.readVersion(s, root).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("sum_len"))
          .select(lit("published").as("which"), col("lang"),
            col("n_docs"), col("sum_len"))
        val qr = Lake.readQuarantine(s, root)
          .groupBy(col("_graft_violated"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("sum_len"))
          .select(concat(lit("quarantined:"), col("_graft_violated"))
            .as("which"), col("lang"), col("n_docs"), col("sum_len"))
        pub.unionByName(qr)
      }),
    // [EXT] explicit retention GC under the driver hash: three full
    // publishes (publish-time pruning disabled via keep=10), a rollback
    // to v1, then vacuum(keep=1) — the horizon covers only v2, so the
    // decision ledger must prune v0, retain v2 as horizon, and retain
    // the rolled-back-to v1 as CURRENT (the never-prune-the-pointer
    // rule). Each retained generation's n_rows comes back through
    // readVersion AFTER the vacuum, so the hash also pins that pruning
    // deleted nothing a survivor needs. The oracle recomputes the
    // decision constants and both corpus counts from the fixture.
    "lake_vacuum" -> ((s, dir) =>
      Materialize.scratch("graft_lake_vac") { work =>
        val root = s"$work/lake"
        val v1 = docs(s, dir).select("doc_id", "text", "lang")
        val v2 = derivedV2Lang(v1)
        for (df <- Seq(v1, v2, v2))
          Lake.publishVersion(df, root, Seq("lang"), Seq("doc_id"),
            maxRecordsPerFile = 1000000L, keep = 10): Unit
        Lake.rollbackTo(s, root, 1L)
        val rep = Lake.vacuum(s, root, keep = 1)
          .select("v", "action", "reason").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .sortBy(_._1)
        // bounded driver loop (O(on-disk generations), the history
        // pattern): count retained generations through the versioned
        // reader post-vacuum
        val rows = rep.map { case (v, action, reason) =>
          val n = if (action == "retained")
            Lake.readVersion(s, root, Some(v)).count() else 0L
          (v, action, reason, n)
        }.toSeq
        import s.implicits._
        rows.toDF("v", "action", "reason", "n_rows")
      }),
    // [EXT] the version ledger (DESCRIBE HISTORY): after publishing v1
    // and the derived v2, the history must name both generations
    // published, exactly one current, with the exact fixture row counts
    // — the oracle recomputes both counts, so the hash pins the ledger's
    // bookkeeping (pointer flags + per-generation accounting), not just
    // its shape.
    "lake_history" -> ((s, dir) =>
      Materialize.scratch("graft_lake_hist") { work =>
        val root = s"$work/lake"
        val v1 = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(v1, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        Lake.publishVersion(derivedV2Lang(v1), root, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 1000000L)
        Lake.history(s, root)
          .select(col("v"), col("published"),
            col("current").as("is_current"), col("n_rows"))
      }),
    // [EXT] continuous publishing E2E: the corpus streams through a file
    // source as two ordered micro-batches (curated drops), each published
    // as an immutable generation by the streaming publisher. The output
    // reads drop 0 PINNED (after the pointer moved past it) and the
    // current drop through the pointer — so the hash pins the
    // stream→generation→pointer lifecycle, including that batch 0's drop
    // is still exactly reproducible after batch 1 shipped.
    "lake_stream_publish" -> ((s, dir) =>
      Materialize.scratch("graft_lake_spub") { work =>
        val src = s"$work/src"; val root = s"$work/lake"
        new java.io.File(src).mkdirs()
        val d = docs(s, dir).select("doc_id", "text", "lang")
        // two single-file drops in path order: the file source (ordered
        // by mtime then path, one file per trigger) delivers b0 then b1
        writeFlat(d.filter(col("doc_id") % 2 === 0), src, "b0.parquet")
        writeFlat(d.filter(col("doc_id") % 2 =!= 0), src, "b1.parquet")
        val q = Lake.publishStream(
          s.readStream.schema(d.schema).option("maxFilesPerTrigger", 1)
            .parquet(src),
          root, s"$work/ckpt", Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
        langAgg(Lake.readVersion(s, root, Some(0L)), "drop0_pinned")
          .unionAll(langAgg(Lake.readVersion(s, root), "drop1_current"))
      }),
    // [EXT] the two axes composed — CONTINUOUS DELTA publishing: the
    // full base ships once, then each micro-batch of the stream ships as
    // a delta generation touching only its partitions (the production
    // curation loop at O(changed) per drop, exactly-once on the batch
    // id). The output reads the INTERMEDIATE version pinned (base +
    // drop 0 only — proving each drop is its own reproducible
    // generation) and the current resolution (both drops applied).
    "lake_stream_delta" -> ((s, dir) =>
      Materialize.scratch("graft_lake_sdelta") { work =>
        val src = s"$work/src"; val root = s"$work/lake"
        new java.io.File(src).mkdirs()
        val d = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L) // the full base, v0
        // drop 0: min(lang)'s docs re-curated; drop 1: a new partition
        val drop0 = d
          .crossJoin(broadcast(d.agg(min("lang").as("_ml"))))
          .filter(col("lang") === col("_ml"))
          .select(col("doc_id"),
            concat(col("text"), lit(" [s0]")).as("text"), col("lang"))
        val drop1 = d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
            lit("zz").as("lang"))
        writeFlat(drop0, src, "b0.parquet")
        writeFlat(drop1, src, "b1.parquet")
        val q = Lake.publishStream(
          s.readStream.schema(d.schema).option("maxFilesPerTrigger", 1)
            .parquet(src),
          root, s"$work/ckpt", Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          delta = true)
        q.awaitTermination()
        langAgg(Lake.readVersion(s, root, Some(1L)), "after_drop0")
          .unionAll(langAgg(Lake.readVersion(s, root), "current"))
      }),
    // [EXT] delta publishing (versioned dynamic partition overwrite):
    // the base is published in full, then ONE lang partition is
    // rewritten and a new one added by a delta whose physical payload is
    // just those two partitions — the unchanged corpus is inherited by
    // reference, never copied or scanned. The output reads the CURRENT
    // resolution (delta applied) AND the pinned base, so the hash pins
    // both the reference resolution and that the base stayed intact
    // underneath it. At 100 TB this is what makes a daily publish cost
    // O(changed), not O(corpus).
    "lake_publish_delta" -> ((s, dir) =>
      Materialize.scratch("graft_lake_delta") { work =>
        val root = s"$work/lake"
        val d = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        // the delta: min(lang)'s docs re-curated (suffix stamp) + a new
        // synthetic partition of re-keyed docs — derived in-plan
        val delta = d
          .crossJoin(broadcast(d.agg(min("lang").as("_ml"))))
          .filter(col("lang") === col("_ml"))
          .select(col("doc_id"),
            concat(col("text"), lit(" [d]")).as("text"), col("lang"))
          .union(d.filter(col("doc_id") % 97 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"), col("text"),
              lit("zz").as("lang")))
        Lake.publishDelta(delta, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        langAgg(Lake.readVersion(s, root), "current_delta")
          .unionAll(
            langAgg(Lake.readVersion(s, root, Some(0L)), "pinned_base"))
      }),
    // [EXT] CDC MERGE into the versioned lake: a keyed changelog
    // (upsert/delete, deliberately containing SUPERSEDED rows so the
    // seq-netting is gated end-to-end) applies to the published base as
    // one delta generation — only the changelog's two langs are read,
    // anti-joined, and rewritten; the other three are inherited by
    // reference. The output aggregates the merged current AND the
    // pinned pre-merge base, so the hash pins replace/delete/insert
    // semantics, netting, inheritance, and base immutability at once.
    // At 100 TB this is applying a binlog hour at O(touched), not
    // rewriting the lake.
    "lake_merge_cdc" -> ((s, dir) =>
      Materialize.scratch("graft_lake_merge") { work =>
        val root = s"$work/lake"
        val d = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        val scoped = d.filter(col("lang").isin("de", "es"))
        val edited = scoped
          .filter(col("doc_id") % 4 === 0 && col("doc_id") % 10 =!= 7)
        def ch(df: DataFrame, text: org.apache.spark.sql.Column,
            op: String, seq: Long): DataFrame =
          df.select(col("doc_id"), text.as("text"), col("lang"),
            lit(op).as("op"), lit(seq).as("seq"))
        val changes =
          // an edit superseded by the real edit (netting must keep seq=2)
          ch(edited, concat(col("text"), lit(" [stale]")), "upsert", 1L)
            .union(ch(edited, concat(col("text"), lit(" [m]")), "upsert", 2L))
            // an upsert superseded by a delete (net action: delete)
            .union(ch(scoped.filter(col("doc_id") % 10 === 7),
              col("text"), "upsert", 1L))
            .union(ch(scoped.filter(col("doc_id") % 10 === 7),
              lit(null).cast("string"), "delete", 2L))
            // inserts under new keys
            .union(scoped.filter(col("doc_id") % 9 === 0)
              .select((col("doc_id") + 7000000L).as("doc_id"),
                col("text"), col("lang"), lit("upsert").as("op"),
                lit(1L).as("seq")))
        Lake.mergeDelta(changes, root, Seq("doc_id"), Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 1000000L,
          seqCol = Some("seq"))
        langAgg(Lake.readVersion(s, root), "current")
          .unionAll(
            langAgg(Lake.readVersion(s, root, Some(0L)), "pinned_base"))
      }),
    // [EXT] z-ordered publish under the driver hash: the generation is
    // clustered on (doc_id, n_chars) — quantile-bucketed, bit-
    // interleaved, sorted, layout column dropped — and the aggregate
    // must equal the plain corpus exactly: layout moved, content
    // didn't. (The skipping win is measured in ZOrderSpec; a hash gate
    // can only pin the content-neutrality half of the contract.)
    "lake_zorder_publish" -> ((s, dir) =>
      Materialize.scratch("graft_lake_zpub") { work =>
        val root = s"$work/lake"
        val d = s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text", "lang", "n_chars")
        Lake.publishVersion(d, root, Seq("lang"), Nil,
          maxRecordsPerFile = 1000000L,
          zOrderCols = Seq("doc_id", "n_chars"),
          bloomFilterCols = Seq("doc_id"))
        Lake.readVersion(s, root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("sum_chars"),
            sum(length(col("text"))).cast("long").as("sum_len"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      }),
    // [EXT] the mover path under the driver hash: an upsert that CHANGES
    // a key's partition value (every 30th de-doc re-curated into lang
    // 'xx') with probeMovers=true — the column-pruned holder probe must
    // find the old partition and merge the stale copy away, leaving
    // exactly one row per moved key.
    "lake_merge_movers" -> ((s, dir) =>
      Materialize.scratch("graft_lake_movers") { work =>
        val root = s"$work/lake"
        val d = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L)
        val moves = d.filter(col("lang") === "de" && col("doc_id") % 30 === 0)
          .select(col("doc_id"), col("text"), lit("xx").as("lang"),
            lit("upsert").as("op"))
        Lake.mergeDelta(moves, root, Seq("doc_id"), Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 1000000L,
          probeMovers = true)
        Lake.readVersion(s, root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("sum_len"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      }),
    // [EXT] the reference's whole pipeline at the lake surface,
    // composed end-to-end and hash-gated: the event stream's FIRST half
    // folds to a keyed state (last-write-wins per user, deletes drop the
    // row) that publishes as the replica's base generation, partitioned
    // by a key-derived bucket (so the partition-stability contract holds
    // by construction); the SECOND half replays as a RAW changelog —
    // superseded rows and all — through mergeDelta, which nets it and
    // applies it at O(touched). The oracle reconstructs the same
    // two-phase fold in SQL, so the hash proves split-fold ≡ direct fold
    // — the associativity a CDC replica needs to bootstrap from a
    // snapshot and then tail the log.
    "cdc_replica_lake" -> ((s, dir) =>
      Materialize.scratch("graft_cdc_replake") { work =>
        val root = s"$work/lake"
        val ev = graft.CdcBatch.readEvents(s, dir)
          .select("event_id", "user_id", "event_type", "value")
        val thr = ev.agg(
          floor(max("event_id") / 2.0).cast("long").as("_thr"))
        val e = ev.crossJoin(broadcast(thr))
        def latest(half: DataFrame): DataFrame = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("event_id").desc)
          half.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1)
            .select(col("user_id"), (col("user_id") % 8).as("bucket"),
              col("event_id"), col("event_type"), col("value"))
        }
        val base = latest(e.filter(col("event_id") <= col("_thr")))
          .filter(col("event_type") =!= "error")
        Lake.publishVersion(base, root, Seq("bucket"), Seq("user_id"),
          maxRecordsPerFile = 1000000L)
        // the raw second-half changelog: one row per EVENT (mergeDelta
        // nets it), op from the binlog action, seq = binlog position
        val changes = e.filter(col("event_id") > col("_thr"))
          .select(col("user_id"), (col("user_id") % 8).as("bucket"),
            col("event_id"), col("event_type"), col("value"),
            when(col("event_type") === "error", lit("delete"))
              .otherwise(lit("upsert")).as("op"),
            col("event_id").as("seq"))
        Lake.mergeDelta(changes, root, Seq("user_id"), Seq("bucket"),
          Seq("user_id"), maxRecordsPerFile = 1000000L,
          seqCol = Some("seq"))
        def aggR(df: DataFrame, which: String): DataFrame = df
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_users"),
            sum("event_id").cast("long").as("sum_eid"),
            max("event_id").as("max_eid"),
            min("user_id").as("min_uid"), max("user_id").as("max_uid"))
          .select(lit(which).as("which"), col("bucket"), col("n_users"),
            col("sum_eid"), col("max_eid"), col("min_uid"), col("max_uid"))
        aggR(Lake.readVersion(s, root), "replica")
          .unionAll(aggR(Lake.readVersion(s, root, Some(0L)), "pinned_base"))
      }),
    // [EXT] continuous CDC MERGE: the changelog STREAMS through
    // mergeStream — drop 0 edits one lang, drop 1 deletes another lang
    // ENTIRELY (the merged generation must drop that partition, not
    // inherit it back). Reads the intermediate version pinned and the
    // current resolution: the hash pins per-batch atomic visibility,
    // exactly-once application, and delete-to-empty partition removal
    // under the streaming path.
    "lake_merge_stream" -> ((s, dir) =>
      Materialize.scratch("graft_lake_mstream") { work =>
        val src = s"$work/src"; val root = s"$work/lake"
        new java.io.File(src).mkdirs()
        val d = docs(s, dir).select("doc_id", "text", "lang")
        Lake.publishVersion(d, root, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L) // the full base, v0
        val drop0 = d.filter(col("lang") === "de" && col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" [s0]")).as("text"), col("lang"),
            lit("upsert").as("op"))
        val drop1 = d.filter(col("lang") === "es")
          .select(col("doc_id"), lit(null).cast("string").as("text"),
            col("lang"), lit("delete").as("op"))
        writeFlat(drop0, src, "b0.parquet")
        writeFlat(drop1, src, "b1.parquet")
        val q = Lake.mergeStream(
          s.readStream.schema(drop0.schema).option("maxFilesPerTrigger", 1)
            .parquet(src),
          root, s"$work/ckpt", Seq("doc_id"), Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 1000000L,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
        langAgg(Lake.readVersion(s, root, Some(1L)), "after_drop0")
          .unionAll(langAgg(Lake.readVersion(s, root), "current"))
      }))

  // shared by lake_snapshot_diff and lake_version_diff: the versioned
  // query publishes the same two corpora and must produce the same ledger
  private val snapshotDiffSql =
    """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 40 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 70 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text FROM v1 WHERE doc_id % 50 = 0),
        |o AS (SELECT doc_id, md5(text) AS old_hash FROM v1),
        |n AS (SELECT doc_id, md5(text) AS new_hash FROM v2),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        o.doc_id AS oid, n.doc_id AS nid, old_hash, new_hash
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
        |c AS (SELECT doc_id,
        |    CASE WHEN oid IS NULL THEN 'added'
        |         WHEN nid IS NULL THEN 'removed'
        |         WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    old_hash, new_hash FROM j)
        |SELECT doc_id, change, old_hash, new_hash FROM c
        |WHERE change <> 'unchanged'""".stripMargin

  private val changeFeedSql =
    """WITH d AS (SELECT doc_id, text, lang FROM documents),
      |s1 AS (
      |  SELECT CAST(1 AS BIGINT) AS v, doc_id, 'changed' AS change,
      |    md5(text) AS old_hash, md5(text || ' [d1]') AS new_hash
      |  FROM d WHERE lang = 'fr'
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id + 5000000, 'added',
      |    CAST(NULL AS VARCHAR), md5(text)
      |  FROM d WHERE doc_id % 97 = 0),
      |sc AS (SELECT * FROM d WHERE lang IN ('de','es')),
      |s2 AS (
      |  SELECT CAST(2 AS BIGINT) AS v, doc_id, 'removed' AS change,
      |    md5(text) AS old_hash, CAST(NULL AS VARCHAR) AS new_hash
      |  FROM sc WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id, 'changed',
      |    md5(text), md5(text || ' [m]')
      |  FROM sc WHERE doc_id % 4 = 0 AND doc_id % 10 <> 7
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id + 7000000, 'added',
      |    CAST(NULL AS VARCHAR), md5(text)
      |  FROM sc WHERE doc_id % 9 = 0)
      |SELECT v, doc_id, change, old_hash, new_hash FROM s1
      |UNION ALL
      |SELECT v, doc_id, change, old_hash, new_hash FROM s2""".stripMargin

  def oracles: Map[String, String] = Map(
    "lake_snapshot_diff" -> snapshotDiffSql,
    "lake_version_diff" -> snapshotDiffSql,
    "lake_refused_quarantine" ->
      """SELECT doc_id, 'even_id' AS violated, 'm=1' AS refusal
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    "lake_change_feed" -> changeFeedSql,
    "lake_feed_paged" -> changeFeedSql,
    "lake_follow_changes" -> changeFeedSql,
    "lake_publish_expect" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN '' ELSE text END AS text,
        |    CASE WHEN doc_id % 67 = 0 THEN 'xx' ELSE lang END AS lang
        |  FROM documents),
        |pub AS (
        |  SELECT 'published' AS which, lang,
        |    count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_len
        |  FROM m
        |  WHERE length(text) > 0
        |    AND lang IN ('de','en','es','fr','zh')
        |  GROUP BY lang),
        |qr AS (
        |  SELECT 'quarantined:' ||
        |    CASE
        |      WHEN length(text) = 0
        |        AND lang NOT IN ('de','en','es','fr','zh')
        |        THEN 'text_nonempty,lang_known'
        |      WHEN length(text) = 0 THEN 'text_nonempty'
        |      ELSE 'lang_known' END AS which,
        |    lang, count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_len
        |  FROM m
        |  WHERE length(text) = 0
        |    OR lang NOT IN ('de','en','es','fr','zh')
        |  GROUP BY 1, 2)
        |SELECT which, lang, n_docs, sum_len FROM pub
        |UNION ALL
        |SELECT which, lang, n_docs, sum_len FROM qr""".stripMargin,
    "lake_vacuum" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |v2 AS (
        |  SELECT doc_id FROM v1 WHERE doc_id % 70 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id FROM v1 WHERE doc_id % 50 = 0)
        |SELECT CAST(0 AS BIGINT) AS v, 'pruned' AS action,
        |  'outside_horizon' AS reason, CAST(0 AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'retained', 'current',
        |  CAST((SELECT count(*) FROM v2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'retained', 'horizon',
        |  CAST((SELECT count(*) FROM v2) AS BIGINT)""".stripMargin,
    "lake_history" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 40 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 70 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text FROM v1 WHERE doc_id % 50 = 0)
        |SELECT CAST(0 AS BIGINT) AS v, TRUE AS published,
        |  FALSE AS is_current,
        |  CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), TRUE, TRUE,
        |  CAST((SELECT count(*) FROM v2) AS BIGINT)""".stripMargin,
    "lake_stream_delta" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |c0 AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = (SELECT min(lang) FROM d)
        |         THEN text || ' [s0]' ELSE text END AS text, lang
        |  FROM d),
        |c1 AS (
        |  SELECT * FROM c0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, text, 'zz' AS lang
        |  FROM d WHERE doc_id % 97 = 0),
        |a0 AS (SELECT 'after_drop0' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM c0 GROUP BY lang),
        |a1 AS (SELECT 'current' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM c1 GROUP BY lang)
        |SELECT * FROM a0 UNION ALL SELECT * FROM a1""".stripMargin,
    "lake_publish_delta" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |cur AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = (SELECT min(lang) FROM d)
        |         THEN text || ' [d]' ELSE text END AS text, lang
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, text, 'zz' AS lang
        |  FROM d WHERE doc_id % 97 = 0),
        |a1 AS (SELECT 'current_delta' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM cur GROUP BY lang),
        |a0 AS (SELECT 'pinned_base' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM d GROUP BY lang)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a0""".stripMargin,
    "lake_merge_cdc" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |sc AS (SELECT * FROM d WHERE lang IN ('de','es')),
        |m AS (
        |  SELECT doc_id, text, lang FROM sc
        |  WHERE doc_id % 10 <> 7 AND doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || ' [m]' AS text, lang FROM sc
        |  WHERE doc_id % 4 = 0 AND doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT doc_id + 7000000 AS doc_id, text, lang FROM sc
        |  WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM d WHERE lang NOT IN ('de','es')),
        |cur AS (SELECT 'current' AS which, lang, count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM m GROUP BY lang),
        |b AS (SELECT 'pinned_base' AS which, lang, count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM d GROUP BY lang)
        |SELECT * FROM cur UNION ALL SELECT * FROM b""".stripMargin,
    "lake_zorder_publish" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang""".stripMargin,
    "lake_merge_movers" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN lang = 'de' AND doc_id % 30 = 0 THEN 'xx'
        |         ELSE lang END AS lang
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM m GROUP BY lang""".stripMargin,
    "cdc_replica_lake" ->
      """WITH t AS (SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT) AS thr
        |           FROM events),
        |l1 AS (SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id DESC) AS rn
        |       FROM events, t WHERE event_id <= thr),
        |base AS (SELECT user_id, user_id % 8 AS bucket, event_id,
        |                event_type, value
        |         FROM l1 WHERE rn = 1 AND event_type <> 'error'),
        |l2 AS (SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id DESC) AS rn
        |       FROM events, t WHERE event_id > thr),
        |net AS (SELECT user_id, user_id % 8 AS bucket, event_id,
        |               event_type, value
        |        FROM l2 WHERE rn = 1),
        |cur AS (
        |  SELECT * FROM base
        |  WHERE user_id NOT IN (SELECT user_id FROM net)
        |  UNION ALL
        |  SELECT * FROM net WHERE event_type <> 'error'),
        |a1 AS (SELECT 'replica' AS which, bucket, count(*) AS n_users,
        |         CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |         max(event_id) AS max_eid,
        |         min(user_id) AS min_uid, max(user_id) AS max_uid
        |       FROM cur GROUP BY bucket),
        |a0 AS (SELECT 'pinned_base' AS which, bucket, count(*) AS n_users,
        |         CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |         max(event_id) AS max_eid,
        |         min(user_id) AS min_uid, max(user_id) AS max_uid
        |       FROM base GROUP BY bucket)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a0""".stripMargin,
    "lake_merge_stream" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |m1 AS (SELECT doc_id,
        |         CASE WHEN lang = 'de' AND doc_id % 3 = 0
        |              THEN text || ' [s0]' ELSE text END AS text, lang
        |       FROM d),
        |m2 AS (SELECT * FROM m1 WHERE lang <> 'es'),
        |a0 AS (SELECT 'after_drop0' AS which, lang, count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM m1 GROUP BY lang),
        |a1 AS (SELECT 'current' AS which, lang, count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM m2 GROUP BY lang)
        |SELECT * FROM a0 UNION ALL SELECT * FROM a1""".stripMargin,
    "lake_stream_publish" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |a0 AS (SELECT 'drop0_pinned' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM d WHERE doc_id % 2 = 0 GROUP BY lang),
        |a1 AS (SELECT 'drop1_current' AS which, lang,
        |         count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM d WHERE doc_id % 2 <> 0 GROUP BY lang)
        |SELECT * FROM a0 UNION ALL SELECT * FROM a1""".stripMargin,
    // full recompute from scratch: the complete LSH pair chain over the
    // derived v2 corpus, restricted to pairs touching a dirty (added or
    // changed) doc — the identity the incremental composition must match
    "lake_diff_curate" ->
      s"""WITH v1 AS (SELECT doc_id, text FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 40 = 0 THEN text || ' [v2]' ELSE text END AS text
         |  FROM v1 WHERE doc_id % 70 <> 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text FROM v1 WHERE doc_id % 50 = 0),
         |${DedupQueries.lshPairCtesFrom("v2")},
         |dirty AS (
         |  SELECT doc_id FROM v1 WHERE doc_id % 40 = 0 AND doc_id % 70 <> 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id FROM v1 WHERE doc_id % 50 = 0)
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE doc_a IN (SELECT doc_id FROM dirty)
         |   OR doc_b IN (SELECT doc_id FROM dirty)""".stripMargin,
    // compaction preserves data exactly: the read-back aggregate over the
    // compacted dirs must equal the same aggregate over the source table
    // CAST the integer sums: DuckDB sum(BIGINT) returns HUGEINT, which the
    // driver's hasher materializes as float (64437.0 vs Spark's 64437) —
    // rows and schema match but the hash fails deterministically. Same
    // house pattern as every other oracle (e.g. CdcQueries).
    "lake_compact" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT doc_id) AS n_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang""".stripMargin,
    // version lifecycle: the pinned old generation and the post-rollback
    // current read must both equal the v1 aggregates; the pointer read
    // between them must equal the v2 aggregates (same derived-v2
    // transform as lake_snapshot_diff, carrying lang)
    "lake_publish_versions" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 40 = 0 THEN text || ' [v2]' ELSE text END AS text,
        |    lang
        |  FROM v1 WHERE doc_id % 70 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text, lang
        |  FROM v1 WHERE doc_id % 50 = 0),
        |a1 AS (SELECT lang, count(*) AS n_docs,
        |         count(DISTINCT doc_id) AS n_ids,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM v1 GROUP BY lang),
        |a2 AS (SELECT lang, count(*) AS n_docs,
        |         count(DISTINCT doc_id) AS n_ids,
        |         CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id
        |       FROM v2 GROUP BY lang)
        |SELECT 'pinned_v1' AS which, * FROM a1
        |UNION ALL
        |SELECT 'current_v2' AS which, * FROM a2
        |UNION ALL
        |SELECT 'rolled_back' AS which, * FROM a1""".stripMargin)
}
