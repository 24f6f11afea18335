package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A7 constructive half (beyond-reference — the reference TODOs ALTER
  * TABLE and quarantines ALL drift, dump2csv.py:78-87): purely ADDITIVE
  * drift — a nullable column added with no default — flows through
  * compaction, the CSV dump, and the bucketed streaming state sink,
  * while conflicting drift still fails fast / quarantines.
  */
class SchemaEvolutionSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("isAdditiveChain: chains pass, conflicts don't") {
    assert(Evolve.isAdditiveChain(Seq("a,b")))
    assert(Evolve.isAdditiveChain(Seq("a,b", "a,b,c", "a,b,c,d")))
    assert(Evolve.isAdditiveChain(Seq("a,b,c", "a,b")))   // order-free
    assert(Evolve.isAdditiveChain(Seq("b,a", "a,b,c")))   // set, not string
    assert(!Evolve.isAdditiveChain(Seq("a,b", "a,c")))    // fork
    assert(!Evolve.isAdditiveChain(Seq("a,b", "b,c,d")))  // add + remove
    assert(Evolve.isAdditiveChain(Seq("a,b", "a,b")))     // no drift
  }

  test("additiveUnion: widens with NULLs; type conflict fails fast") {
    val v1 = Seq(("k1", 1L, 1.0), ("k2", 2L, 2.0)).toDF("rid", "seq", "value")
    val v2 = Seq(("k2", 3L, 3.0, "new")).toDF("rid", "seq", "value", "tag")
    val u = Evolve.additiveUnion(Seq(v1, v2))
    assert(u.columns.toSeq === Seq("rid", "seq", "value", "tag"))
    val rows = u.orderBy("seq").collect()
    assert(rows.map(_.getAs[String]("tag")).toSeq === Seq(null, null, "new"))
    // same column re-typed (double → string) is conflicting drift
    val bad = Seq(("k3", 4L, "oops")).toDF("rid", "seq", "value")
    val e = intercept[IllegalArgumentException](
      Evolve.additiveUnion(Seq(v1, bad)))
    assert(e.getMessage.contains("value"))
  }

  test("batch: an additively drifted changelog compacts without quarantine;" +
      " v1-final keys carry NULL in the added column") {
    val v1 = Seq(
      ("t", "a", "insert", 1L, 10.0),
      ("t", "b", "insert", 2L, 20.0),
      ("t", "c", "insert", 3L, 30.0))
      .toDF("table", "rid", "cdc_action", "seq", "value")
    val v2 = Seq( // post-ALTER: adds nullable note
      ("t", "a", "update", 4L, 11.0, "n1"),
      ("t", "c", "delete", 5L, 0.0, null.asInstanceOf[String]),
      ("t", "d", "insert", 6L, 40.0, "n2"))
      .toDF("table", "rid", "cdc_action", "seq", "value", "note")
    val out = Merge.compact(Evolve.additiveUnion(Seq(v1, v2)),
      Seq("table", "rid"))
      .orderBy("rid").collect()
    // a: insert+update→insert with v2 payload; b: v1-final, note NULL;
    // c: insert+delete annihilates; d: v2 insert
    assert(out.map(_.getAs[String]("rid")).toSeq === Seq("a", "b", "d"))
    assert(out.map(_.getAs[String]("note")).toSeq === Seq("n1", null, "n2"))
    assert(out.map(_.getAs[String]("cdc_action")).toSeq ===
      Seq("insert", "insert", "insert"))
    assert(out.map(_.getAs[Double]("value")).toSeq === Seq(11.0, 20.0, 40.0))
  }

  test("csv dump: additive-chain table dumps clean; non-chain quarantines") {
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_evo").toString
    // additive drift on t1 (second version adds a field); FORK on t2
    // (disjoint field sets — a rename) must still quarantine
    val df = Seq(
      ("t1", "r1", "a,b", "x"),
      ("t1", "r2", "a,b,c", "y"),
      ("t2", "r3", "a,b", "x"),
      ("t2", "r4", "a,c", "y"))
      .toDF("table", "rid", "fp", "payload")
      .withColumn("dt", lit("20260814"))
    try {
      sources.Csv.dumpCsvEvolved(df, col("fp"), s"$root/dump", 1000L)
      val clean = sources.Csv.loadCsv(spark, s"$root/dump")
      assert(clean.select("table").distinct().as[String].collect().toSet
        === Set("t1"))
      val quarantined = sources.Csv.loadCsv(spark, s"$root/dump.tmp")
      assert(quarantined.select("table").distinct().as[String].collect().toSet
        === Set("t2"))
      // the round-5-style regression guard: NO drift at all → everything
      // clean, no .tmp dir
      val root2 = java.nio.file.Files
        .createTempDirectory(SparkSuite.scratch, "graft_evo2").toString
      try {
        sources.Csv.dumpCsvEvolved(
          df.withColumn("fp", lit("a,b")), col("fp"), s"$root2/dump", 1000L)
        assert(!new java.io.File(s"$root2/dump.tmp").exists())
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root2))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("quarantine-to-recovery replay: a fork-drifted table quarantines, " +
      "replays through the supplied mapping, and merges to the clean " +
      "run's state; unaccounted columns fail loudly") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_qr").toString
    try {
      // the CLEAN history: what the log would have been had the upstream
      // ALTER never renamed the column
      val clean = Seq(
        ("t", "a", "insert", 1L, 10.0), ("t", "b", "insert", 2L, 20.0),
        ("t", "a", "update", 3L, 11.0), ("t", "c", "insert", 4L, 30.0),
        ("t", "b", "delete", 5L, 0.0))
        .toDF("table", "rid", "cdc_action", "seq", "value")
      val expected = Merge.compact(clean, Seq("table", "rid"))
        .select("table", "rid", "cdc_action", "seq", "value")
        .collect().map(_.toSeq).toSet
      // the DRIFTED reality: seq > 3 rows carry the value under a renamed
      // column (a FORK, not a chain — dumpCsvEvolved must quarantine)
      val drifted = clean
        .withColumn("val2", when(col("seq") > 3, col("value")))
        .withColumn("value", when(col("seq") <= 3, col("value")))
        .withColumn("dt", lit("20260814"))
      val fpCol = when(col("seq") <= 3,
        lit("cdc_action,seq,value")).otherwise(lit("cdc_action,seq,val2"))
      sources.Csv.dumpCsvEvolved(drifted, fpCol, s"$root/dump", 1000L)
      // the whole table went to quarantine, nothing dumped clean
      assert(!new java.io.File(s"$root/dump/dt=20260814").exists())
      assert(new java.io.File(s"$root/dump.tmp").exists())
      // replay: the operator supplies the resolution (val2 was a rename of
      // value) and the target types; dt is explicitly dropped
      val target = StructType(Seq(
        StructField("table", StringType), StructField("rid", StringType),
        StructField("cdc_action", StringType),
        StructField("seq", LongType), StructField("value", DoubleType)))
      val replayed = sources.Csv.replayQuarantine(spark, s"$root/dump.tmp",
        target, mapping = Map("val2" -> "value"), dropped = Set("dt"))
      assert(replayed.schema === target)
      val merged = Merge.compact(replayed, Seq("table", "rid"))
        .select("table", "rid", "cdc_action", "seq", "value")
        .collect().map(_.toSeq).toSet
      assert(merged === expected,
        "replayed quarantine did not merge to the clean run's state")
      // accounting is loud: an unmapped, undropped quarantined column
      // refuses to replay instead of silently vanishing
      val e = intercept[IllegalArgumentException] {
        sources.Csv.replayQuarantine(spark, s"$root/dump.tmp", target,
          mapping = Map.empty, dropped = Set("dt"))
      }
      assert(e.getMessage.contains("val2"))
      // and a mapping pointing outside the target schema fails too
      val e2 = intercept[IllegalArgumentException] {
        sources.Csv.replayQuarantine(spark, s"$root/dump.tmp", target,
          mapping = Map("val2" -> "nope"), dropped = Set("dt"))
      }
      assert(e2.getMessage.contains("nope"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("streaming sink: a widened batch upserts against narrow state, a " +
      "narrow replay upserts against widened state, untouched buckets " +
      "stay narrow on disk but read wide") {
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_evos").toString
    val state = s"$root/state"
    def stateDf() = streaming.CdcStream.readState(spark, state)
    try {
      // batch 1: narrow schema (pre-ALTER), many keys spread over buckets
      val b1 = (1 to 40).map(i =>
          ("t", s"k$i", "insert", i.toLong, i * 1.0))
        .toDF("table", "rid", "cdc_action", "seq", "value")
      streaming.CdcStream.upsertBatch(b1, state, nBuckets = 8)
      assert(stateDf().count() === 40)
      // batch 2: post-ALTER — adds nullable note, touches ONE key
      val b2 = Seq(("t", "k1", "update", 100L, 1.5, "evolved"))
        .toDF("table", "rid", "cdc_action", "seq", "value", "note")
      val untouchedBefore = new java.io.File(state).listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.lastModified()).toMap
      streaming.CdcStream.upsertBatch(b2, state, nBuckets = 8)
      val s2 = stateDf()
      assert(s2.columns.contains("note"), "state did not widen")
      assert(s2.count() === 40)
      assert(s2.filter(col("rid") === "k1").select("note").as[String]
        .head() === "evolved")
      // every pre-evolution row reads as NULL in the added column
      assert(s2.filter(col("note").isNull).count() === 39)
      // evolution did NOT rewrite settled buckets: only k1's bucket dir
      // changed — old buckets stay narrow on disk, widened at read time
      val untouchedAfter = new java.io.File(state).listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.lastModified()).toMap
      assert(untouchedBefore.count { case (n, m) =>
        untouchedAfter.get(n).exists(_ != m) } <= 1,
        "additive evolution rewrote settled buckets")
      // batch 3: a REPLAYED narrow batch (e.g. checkpoint recovery of a
      // pre-ALTER micro-batch) still upserts against the widened state
      val b3 = Seq(("t", "k2", "update", 101L, 2.5))
        .toDF("table", "rid", "cdc_action", "seq", "value")
      streaming.CdcStream.upsertBatch(b3, state, nBuckets = 8)
      val s3 = stateDf()
      assert(s3.filter(col("rid") === "k2").select("value").as[Double]
        .head() === 2.5)
      assert(s3.count() === 40)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("checkpoint restart STRADDLING the schema change: v1 batches → kill " +
      "→ v2 batches on the same checkpoint compact the widened union " +
      "without state loss or segment re-reads") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_evor").toString
    val src = s"$root/src"; new java.io.File(src).mkdirs()
    val state = s"$root/state"; val ckpt = s"$root/ckpt"
    val v1Schema = StructType(Seq(
      StructField("table", StringType), StructField("rid", StringType),
      StructField("cdc_action", StringType), StructField("seq", LongType),
      StructField("value", DoubleType)))
    val v2Schema = StructType(v1Schema.fields :+
      StructField("note", StringType)) // post-ALTER: nullable add
    // stage outside the watched dir, then move in (StandingStreamSpec
    // discipline: the source must never list a half-written file)
    def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$root/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    def bucket(r: String): Int = spark.range(1)
      .select(pmod(hash(lit("t"), lit(r)), lit(64))).head().getInt(0)
    def bucketFiles(b: Int): Map[String, Long] = {
      val d = new java.io.File(s"$state/bucket=$b")
      if (!d.exists) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    try {
      // the survivor key must sit alone in its bucket so "its files are
      // byte-identical across the restart" proves both no-state-loss AND
      // no-segment-re-read (a re-read of seg1 would rewrite its bucket)
      assert(Seq("a", "b", "c", "d").map(bucket).distinct.size === 4)
      import org.apache.spark.sql.streaming.Trigger

      // phase 1 (pre-ALTER): v1 segments, run to completion, KILL
      drop("seg1", Seq(
        ("t", "a", "insert", 1L, 10.0), ("t", "b", "insert", 2L, 20.0),
        ("t", "c", "insert", 3L, 30.0))
        .toDF("table", "rid", "cdc_action", "seq", "value"))
      val q1 = streaming.CdcStream.runEvolving(spark, src, v1Schema,
        state, ckpt, trigger = Trigger.AvailableNow())
      q1.awaitTermination()
      val s1 = streaming.CdcStream.readState(spark, state)
      assert(s1.count() === 3 && !s1.columns.contains("note"))
      val bFilesAfterV1 = bucketFiles(bucket("b"))
      assert(bFilesAfterV1.nonEmpty)

      // phase 2 (post-ALTER): v2 segment lands; the operator restarts the
      // job on the SAME checkpoint with the WIDENED schema
      drop("seg2", Seq(
        ("t", "a", "update", 4L, 11.0, "n1"),
        ("t", "c", "delete", 5L, 0.0, null.asInstanceOf[String]),
        ("t", "d", "insert", 6L, 40.0, "n2"))
        .toDF("table", "rid", "cdc_action", "seq", "value", "note"))
      val q2 = streaming.CdcStream.runEvolving(spark, src, v2Schema,
        state, ckpt, trigger = Trigger.AvailableNow())
      q2.awaitTermination()
      val s2all = streaming.CdcStream.readState(spark, state)
      val s2 = s2all.filter(col("cdc_action") =!= "none")
        .select("rid", "cdc_action", "value", "note").collect()
        .map(r => r.getString(0) ->
          ((r.getString(1), r.getDouble(2), r.getString(3)))).toMap
      // a: insert+update folds to insert with the v2 payload; b: v1-final,
      // survives untouched with NULL note (no state loss); c: annihilated
      // ACROSS the restart (stored insert + streamed delete); d: v2 insert
      assert(s2 === Map(
        "a" -> (("insert", 11.0, "n1")),
        "b" -> (("insert", 20.0, null)),
        "d" -> (("insert", 40.0, "n2"))))
      // c's annihilation leaves a `none` tombstone carrying the high-water
      // seq — the replay guard the untyped sink must persist itself
      val cTomb = s2all.filter(col("rid") === "c").select("cdc_action", "seq")
        .collect()
      assert(cTomb.map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("none", 5L)))
      // the checkpoint carried the offsets across the restart: seg1 was NOT
      // re-read (b's single-key bucket files are byte-identical), so the
      // widened run did O(new segment), not a state rebuild
      assert(bucketFiles(bucket("b")) === bFilesAfterV1,
        "restart re-read pre-ALTER segments or rewrote untouched state")

      // phase 3: restart again with NOTHING new — fully replay-idempotent,
      // zero state mutation
      val q3 = streaming.CdcStream.runEvolving(spark, src, v2Schema,
        state, ckpt, trigger = Trigger.AvailableNow())
      q3.awaitTermination()
      assert(streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") =!= "none").count() === 3)
      assert(bucketFiles(bucket("b")) === bFilesAfterV1)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("untyped foldBatch: cross-batch state machine parity — " +
      "delete+insert resurrects as update, replays drop below the " +
      "high-water seq, conflicting drift fails the batch") {
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_fold").toString
    val state = s"$root/state"
    def fold(df: org.apache.spark.sql.DataFrame): Unit =
      streaming.CdcStream.foldBatch(df, state, nBuckets = 8)
    def stateRows(): Map[String, (String, Double)] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") =!= "none")
        .select("rid", "cdc_action", "value").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    def tombs(): Map[String, Long] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") === "none")
        .select("rid", "seq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      fold(Seq(("t", "a", "insert", 1L, 1.0), ("t", "b", "delete", 2L, 0.0))
        .toDF("table", "rid", "cdc_action", "seq", "value"))
      // bare delete with no prior stores as delete (typed-machine parity:
      // mergeAction(None, delete) = delete)
      assert(stateRows() === Map(
        "a" -> (("insert", 1.0)), "b" -> (("delete", 0.0))))
      // batch 2: stored delete + insert RESURRECTS as update
      // (rcache.py:218-219); a REPLAYED change at seq 1 must be dropped by
      // a's high-water guard, not refolded (insert+insert would stay
      // insert here, but the guard is what makes ANY replay safe)
      fold(Seq(("t", "b", "insert", 3L, 9.0), ("t", "a", "insert", 1L, 7.7))
        .toDF("table", "rid", "cdc_action", "seq", "value"))
      assert(stateRows() === Map(
        "a" -> (("insert", 1.0)), "b" -> (("update", 9.0))))
      // batch 3 annihilates a (stored INSERT + delete — the one
      // annihilating transition; update+delete stays a live 'delete' row
      // per the rcache fallthrough): the live row goes, a `none` tombstone
      // stays with the high-water seq — so REPLAYING the same annihilating
      // batch is a no-op instead of refolding the delete as a fresh bare
      // delete (the crash-replay failure mode a hash-only guard misses
      // once the live row is gone)
      val annihilate = Seq(("t", "a", "delete", 4L, 0.0))
        .toDF("table", "rid", "cdc_action", "seq", "value")
      fold(annihilate)
      assert(stateRows() === Map("b" -> (("update", 9.0))))
      assert(tombs() === Map("a" -> 4L))
      fold(annihilate) // crash-replay of the committed batch
      assert(stateRows() === Map("b" -> (("update", 9.0))),
        "replayed annihilation resurrected a row")
      assert(tombs() === Map("a" -> 4L))
      // and the key resurrects cleanly AFTER annihilation: the tombstone
      // guards the replay window but does not seed the fold
      fold(Seq(("t", "a", "insert", 5L, 2.0))
        .toDF("table", "rid", "cdc_action", "seq", "value"))
      assert(stateRows() === Map(
        "a" -> (("insert", 2.0)), "b" -> (("update", 9.0))))
      assert(tombs() === Map.empty)

      // conflicting drift (value re-typed double → string) must FAIL the
      // batch loudly — the quarantine class, never a silent cast
      val bad = Seq(("t", "a", "update", 6L, "oops"))
        .toDF("table", "rid", "cdc_action", "seq", "value")
      val e = intercept[IllegalArgumentException](fold(bad))
      assert(e.getMessage.contains("value"))
      assert(stateRows() === Map(
        "a" -> (("insert", 2.0)), "b" -> (("update", 9.0))),
        "failed batch mutated state")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("runEvolving auto-sweep: churn keeps state ≈ live rows with NO " +
      "manual sweep, an in-horizon replay after an automatic sweep is " +
      "still a no-op, and staging dirs are deleted after commit") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_asw").toString
    val src = s"$root/src"; new java.io.File(src).mkdirs()
    val state = s"$root/state"; val ckpt = s"$root/ckpt"
    val schema = Seq(("t", "r", "insert", 1L, 1.0))
      .toDF("table", "rid", "cdc_action", "seq", "value").schema
    def drop(name: String,
        rows: Seq[(String, String, String, Long, Double)]): Unit = {
      val tmp = s"$root/stage_$name"
      rows.toDF("table", "rid", "cdc_action", "seq", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    def run(): Unit = {
      val q = streaming.CdcStream.runEvolving(spark, src, schema,
        state, ckpt, nBuckets = 8, trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    def tombs(): Map[String, Long] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") === "none")
        .select("rid", "seq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def live(): Set[String] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") =!= "none")
        .select("rid").as[String].collect().toSet
    try {
      // batch 1: 20 inserts; batch 2: annihilate k1..k10 (seqs 21..30).
      // Batch 2's own sweep runs at horizon = 21 (its min seq) — its fresh
      // tombstones (H 21..30) are INSIDE the replay window and must stay.
      drop("b1", (1 to 20).map(i => ("t", s"k$i", "insert", i.toLong, 1.0)))
      run()
      drop("b2", (1 to 10).map(i => ("t", s"k$i", "delete", 20L + i, 0.0)))
      run()
      assert(live() === (11 to 20).map(i => s"k$i").toSet)
      assert(tombs() === (1 to 10).map(i => s"k$i" -> (20L + i)).toMap,
        "auto-sweep dropped tombstones still inside the replay window")
      // an in-horizon replay of the committed annihilating batch (crash
      // between foreachBatch and the commit-log write) is a no-op: the
      // kept tombstones' high-water guard drops every change
      streaming.CdcStream.foldBatch(
        (1 to 10).map(i => ("t", s"k$i", "delete", 20L + i, 0.0))
          .toDF("table", "rid", "cdc_action", "seq", "value"), state, 8)
      assert(live() === (11 to 20).map(i => s"k$i").toSet,
        "in-horizon replay resurrected a row")
      assert(tombs() === (1 to 10).map(i => s"k$i" -> (20L + i)).toMap)
      // batch 3 (seqs 31+): its auto-sweep proves batch 2's replay window
      // closed and drops all 10 tombstones — state returns to live rows
      // with NO manual sweepTombstones call anywhere in this test
      drop("b3", (21 to 25).map(i => ("t", s"k$i", "insert", 10L + i, 1.0)))
      run()
      assert(live() ===
        ((11 to 20) ++ (21 to 25)).map(i => s"k$i").toSet)
      assert(tombs() === Map.empty,
        "auto-sweep did not reclaim dead tombstones under churn")
      assert(streaming.CdcStream.readState(spark, state).count() === 15)
      // staging dirs are cleanup'd after commit — nothing accumulates
      assert(!new java.io.File(state + ".next").exists(),
        ".next staging dir left behind")
      assert(!new java.io.File(state + ".sweep").exists(),
        ".sweep staging dir left behind")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("sweep tombstone cache survives a simulated JVM restart: the cold " +
      "probe reseeds exact knowledge, drops nothing early, keeps nothing " +
      "dead") {
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_tcache").toString
    val state = s"$root/state"
    def fold(rows: Seq[(String, String, String, Long, Double)]): Unit =
      streaming.CdcStream.foldBatch(
        rows.toDF("table", "rid", "cdc_action", "seq", "value"), state, 8)
    def tombs(): Map[String, Long] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") === "none")
        .select("rid", "seq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      fold((1 to 12).map(i => ("t", s"k$i", "insert", i.toLong, 1.0)))
      fold((1 to 6).map(i => ("t", s"k$i", "delete", 20L + i, 0.0)))
      assert(tombs().size === 6)
      // "restart": the writer JVM's cache is gone; the next sweep must
      // fall back to the cold full probe and still behave exactly —
      // in-horizon tombstones kept, aged ones dropped
      streaming.CdcStream.forgetTombstoneCache(state)
      assert(streaming.CdcStream.sweepTombstones(spark, state, 24L) === 3L)
      assert(tombs() === (4 to 6).map(i => s"k$i" -> (20L + i)).toMap)
      // the cold probe SEEDED exact knowledge: a horizon that ages
      // nothing more is a zero-work no-op (cache hit), and advancing it
      // through the cache still drops the remainder
      assert(streaming.CdcStream.sweepTombstones(spark, state, 24L) === 0L)
      assert(streaming.CdcStream.sweepTombstones(spark, state, 99L) === 3L)
      assert(tombs() === Map.empty)
      // and a fold AFTER the reseed keeps teaching the cache: new
      // annihilations are swept without another cold probe
      fold(Seq(("t", "k1", "insert", 50L, 1.0)))
      fold(Seq(("t", "k1", "delete", 51L, 0.0)))
      assert(streaming.CdcStream.sweepTombstones(spark, state, 60L) === 1L)
      assert(tombs() === Map.empty)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("sweepTombstones: drops only tombstones below the replay horizon, " +
      "keeps the live replay guard working, leaves settled buckets " +
      "untouched, and returns state to live rows after churn") {
    val root = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_sweep").toString
    val state = s"$root/state"
    val nB = 8
    def fold(rows: Seq[(String, String, String, Long, Double)]): Unit =
      streaming.CdcStream.foldBatch(
        rows.toDF("table", "rid", "cdc_action", "seq", "value"), state, nB)
    def sweep(horizon: Long): Long =
      streaming.CdcStream.sweepTombstones(spark, state, horizon)
    def live(): Set[String] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") =!= "none")
        .select("rid").as[String].collect().toSet
    def tombs(): Map[String, Long] =
      streaming.CdcStream.readState(spark, state)
        .filter(col("cdc_action") === "none")
        .select("rid", "seq").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def bucket(r: String): Int = spark.range(1)
      .select(pmod(hash(lit("t"), lit(r)), lit(nB))).head().getInt(0)
    def bucketFiles(): Map[String, Seq[(String, Long)]] =
      new java.io.File(state).listFiles()
        .filter(_.getName.startsWith("bucket=")).map(d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> f.lastModified()).toSeq.sorted).toMap
    try {
      // 20 keys inserted; k1..k10 then annihilated at seqs 21..30
      fold((1 to 20).map(i => ("t", s"k$i", "insert", i.toLong, i * 1.0)))
      fold((1 to 10).map(i => ("t", s"k$i", "delete", 20L + i, 0.0)))
      assert(live() === (11 to 20).map(i => s"k$i").toSet)
      assert(tombs() === (1 to 10).map(i => s"k$i" -> (20L + i)).toMap)

      // horizon 26: k1..k5 (tomb seqs 21..25) are unguardable dead weight;
      // k6..k10 (26..30) still guard a live replay window
      val before = bucketFiles()
      val agedBuckets = (1 to 5).map(i => bucket(s"k$i")).toSet
      assert(sweep(26L) === 5L)
      assert(tombs() === (6 to 10).map(i => s"k$i" -> (20L + i)).toMap)
      assert(live() === (11 to 20).map(i => s"k$i").toSet,
        "sweep touched live rows")
      // bucket-pruned: only buckets holding aged tombstones were rewritten
      val after = bucketFiles()
      val rewritten = before.keySet.filter(n =>
        after.get(n).exists(_ != before(n))) ++ (after.keySet -- before.keySet)
      assert(rewritten.forall(n =>
        agedBuckets.contains(n.stripPrefix("bucket=").toInt)),
        s"sweep rewrote settled buckets: $rewritten")

      // a replay INSIDE the horizon is still a no-op: k7's annihilating
      // delete (seq 27 ≥ horizon) re-arrives; the kept tombstone's
      // high-water guard must drop it, not refold a bare delete
      fold(Seq(("t", "k7", "delete", 27L, 0.0)))
      assert(live() === (11 to 20).map(i => s"k$i").toSet,
        "replayed annihilation inside the horizon resurrected a row")
      assert(tombs()("k7") === 27L)

      // a second sweep at the same horizon is a no-op (nothing aged left)
      val quiescent = bucketFiles()
      assert(sweep(26L) === 0L)
      assert(bucketFiles() === quiescent, "no-op sweep rewrote state")

      // churn done: advance the horizon past every tombstone — state
      // returns to exactly the live rows
      assert(sweep(31L) === 5L)
      assert(tombs() === Map.empty)
      assert(streaming.CdcStream.readState(spark, state).count() === 10)
      // and the swept keys still resurrect cleanly as fresh inserts
      fold(Seq(("t", "k3", "insert", 40L, 3.5)))
      assert(live() === ((11 to 20).map(i => s"k$i").toSet + "k3"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }
}
