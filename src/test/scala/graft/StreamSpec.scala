package graft

import graft.streaming.CdcStream
import graft.streaming.CdcStream.Ch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming merge must equal batch compaction, incrementally, across
  * micro-batches, with annihilation tombstones (SURVEY.md §2.8, §7.3).
  */
class StreamSpec extends SparkSuite {

  private def ch(rid: String, act: String, seq: Long, v: Double = 0.0) =
    Ch("db.t", rid, act, 1000L + seq, seq, v, s"p$seq")

  test("incremental streaming merge == batch compact, with tombstones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val name = "stream_spec_out"
    val q = CdcStream.merged(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: a inserted, b inserted, c updated
    mem.addData(ch("a", "insert", 1), ch("b", "insert", 2), ch("c", "update", 3))
    q.processAllAvailable()
    val s1 = spark.table(name).as[Ch].collect().map(e => e.rid -> e.cdc_action)
    assert(s1.toMap === Map("a" -> "insert", "b" -> "insert", "c" -> "update"))

    // batch 2: a deleted (annihilate -> tombstone), b updated (stays insert)
    mem.addData(ch("a", "delete", 4), ch("b", "update", 5, 9.5))
    q.processAllAvailable()
    val updates = spark.table(name).as[Ch].collect()
    val last = updates.groupBy(_.rid).map { case (r, es) => r -> es.maxBy(_.seq) }
    assert(last("a").cdc_action === Types.None_)   // tombstone emitted
    assert(last("b").cdc_action === "insert" && last("b").value === 9.5)
    assert(last("c").cdc_action === "update")
    q.stop()

    // equals batch compact over the full log
    val full = Seq(ch("a", "insert", 1), ch("b", "insert", 2),
      ch("c", "update", 3), ch("a", "delete", 4), ch("b", "update", 5, 9.5))
    val batch = Merge.compact(full.toDF(), Seq("table", "rid"))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val streamFinal = last.collect {
      case (r, e) if e.cdc_action != Types.None_ => r -> e.cdc_action
    }
    assert(streamFinal.toMap === batch)
  }

  test("step: every action sequence up to length 5, split into every " +
      "batch partition, with stale replays == compact(keepNone)") {
    import spark.implicits._
    val acts = Vector(Types.Insert, Types.Update, Types.Delete)
    val seqs = (1 to 5).flatMap(n =>
      (0 until math.pow(3, n).toInt).map(i =>
        (0 until n).map(j => acts(i / math.pow(3, j).toInt % 3))))
    assert(seqs.size === 363)
    // one key per sequence, change j at seq j + 1
    def changes(k: Int): Vector[Ch] = seqs(k).zipWithIndex.map {
      case (a, j) => ch(s"x$k", a, j + 1L, j + 1.0) }.toVector
    val want = Merge.compact(
        seqs.indices.flatMap(changes).toDF(), Seq("table", "rid"),
        keepNone = true)
      .collect().map(r => r.getAs[String]("rid") ->
        ((r.getAs[String]("cdc_action"), r.getAs[Long]("seq"),
          r.getAs[Any]("props"))))
      .toMap
    assert(want.size === seqs.size)
    // contiguous splits (batches arrive in seq order), each batch handed
    // to step in reverse so the sort is exercised too
    def splits(cs: Vector[Ch]): Seq[Vector[Vector[Ch]]] =
      if (cs.isEmpty) Seq(Vector.empty)
      else (1 to cs.size).flatMap(i =>
        splits(cs.drop(i)).map(rest => cs.take(i) +: rest))
    var runs = 0
    for (k <- seqs.indices) {
      val cs = changes(k)
      val key = ("db.t", s"x$k")
      for (batches <- splits(cs);
          // None, or (batch j re-delivered after batch t ≥ j)
          replay <- None +: (for (t <- batches.indices; j <- 0 to t)
            yield Some((j, t)))) {
        runs += 1
        var stored: Option[Ch] = None
        for (t <- batches.indices) {
          val (st, em) = CdcStream.step(key, stored, batches(t).reverseIterator)
          assert(em.size <= 1)
          em.foreach(e => assert(st.contains(e)))
          val hw = batches(t).last.seq
          if (st.exists(_.cdc_action == Types.None_))
            assert(st.get.seq === hw, s"tombstone below max seq: $st")
          stored = st
          replay.filter(_._2 == t).foreach { case (j, _) =>
            val (st2, em2) = CdcStream.step(key, stored, batches(j).iterator)
            assert(st2 === stored, s"stale replay changed state: $k $batches")
            if (stored.exists(_.cdc_action == Types.None_))
              assert(em2.isEmpty, s"stale replay resurrected: $k $batches")
            else assert(em2 === stored)
          }
        }
        val got = stored.get
        val (a, sq, props) = want(s"x$k")
        assert((got.cdc_action, got.seq) === ((a, sq)), s"$k $batches")
        if (a != Types.None_) assert(got.props === props)
      }
    }
    assert(runs > 10000)
  }

  test("update-mode merge emits at most ONE row per key per micro-batch " +
      "— the invariant the bucket sink's preDeduped fast path rides on " +
      "(no per-batch latest-per-key window)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val perBatch =
      scala.collection.mutable.ArrayBuffer[Array[(String, Long)]]()
    val q = CdcStream.merged(mem.toDS()).writeStream
      .outputMode("update").trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Ch], _: Long) =>
        perBatch += b.groupBy("table", "rid").count()
          .collect().map(r => r.getString(1) -> r.getLong(2))
        ()
      }.start()
    // several changes of ONE key inside a single batch must fold to one
    // emitted row; annihilation emits exactly the one tombstone row
    mem.addData(ch("a", "insert", 1), ch("a", "update", 2),
      ch("a", "update", 3), ch("b", "insert", 4), ch("b", "delete", 5))
    q.processAllAvailable()
    mem.addData(ch("a", "delete", 6), ch("a", "insert", 7),
      ch("b", "insert", 8))
    q.processAllAvailable()
    q.stop()
    val flat = perBatch.flatten
    assert(flat.nonEmpty)
    assert(flat.forall(_._2 == 1L),
      s"a key appeared more than once in one micro-batch: ${flat.toSeq}")
  }

  test("annihilation keeps a seen-seq tombstone: a re-delivered stale " +
      "insert cannot resurrect the dead key; a genuinely NEW insert can") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val name = "stream_spec_replay"
    val q = CdcStream.merged(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(ch("a", "insert", 5))
    q.processAllAvailable()
    mem.addData(ch("a", "delete", 6)) // annihilate
    q.processAllAvailable()
    // the at-least-once tail re-delivers the ORIGINAL insert: without
    // the tombstone's seq guard this would fold as fresh and resurrect
    // the dead key — the batch compact over the same log keeps it dead
    mem.addData(ch("a", "insert", 5))
    q.processAllAvailable()
    def lastA() = spark.table(name).as[Ch].collect()
      .filter(_.rid == "a").maxBy(_.seq)
    assert(lastA().cdc_action === Types.None_,
      s"stale replay resurrected the annihilated key: ${lastA()}")
    // a NEW insert (seq above the tombstone) legitimately revives it
    mem.addData(ch("a", "insert", 7, 3.5))
    q.processAllAvailable()
    assert(lastA().cdc_action === "insert" && lastA().value === 3.5)
    q.stop()
  }

  test("streaming dropDuplicates with watermark (A3 set semantics on stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val deduped = mem.toDS()
      .withColumn("ets", timestamp_seconds(col("cdc_ts")))
      .withWatermark("ets", "1 hour")
      .dropDuplicates("table", "rid")
    val q = deduped.writeStream
      .format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    mem.addData(ch("a", "insert", 1), ch("a", "update", 2), ch("b", "insert", 3))
    q.processAllAvailable()
    mem.addData(ch("a", "update", 4), ch("c", "insert", 5)) // a is a dup
    q.processAllAvailable(); q.stop()
    val rids = spark.table("stream_dedup").select("rid").as[String]
      .collect().sorted.toSeq
    assert(rids === Seq("a", "b", "c")) // at-most-one row per rid
  }

  test("validateKeys fails fast on null rid (SaveIgnore parity)") {
    import spark.implicits._
    val bad = Seq(("db.t", null.asInstanceOf[String], "insert", 1L))
      .toDF("table", "rid", "cdc_action", "seq")
    val ex = intercept[Exception] {
      CdcBatch.validateKeys(bad).collect()
    }
    assert(ex.getMessage.contains("SaveIgnore"))
    // clean rows pass through unchanged
    val ok = Seq(("db.t", "1", "insert", 1L))
      .toDF("table", "rid", "cdc_action", "seq")
    assert(CdcBatch.validateKeys(ok).collect().length === 1)
  }

  test("watermarked tumbling-window aggregation over the change stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val windowed = mem.toDS()
      .withColumn("ets", timestamp_seconds(col("cdc_ts")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "10 minutes"), col("cdc_action"))
      .agg(count(lit(1)).as("n"))
    val q = windowed.writeStream
      .format("memory").queryName("stream_windowed")
      .outputMode("update").start()
    // two events in one 10-min bucket, one in the next
    mem.addData(
      Ch("db.t", "a", "insert", 600, 1, 1.0, null),
      Ch("db.t", "b", "insert", 900, 2, 1.0, null),
      Ch("db.t", "c", "insert", 1300, 3, 1.0, null))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stream_windowed")
      .select(col("window.start").cast("long"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(600L -> 2L, 1200L -> 1L))
  }

  test("stream-stream interval join matches pairs across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ch]
    val buys = MemoryStream[Ch]
    val l = clicks.toDS().select(col("rid"),
        timestamp_seconds(col("cdc_ts")).as("lts"), col("seq").as("lseq"))
      .withWatermark("lts", "1 hour")
    val r = buys.toDS().select(col("rid").as("rrid"),
        timestamp_seconds(col("cdc_ts")).as("rts"), col("seq").as("rseq"))
      .withWatermark("rts", "1 hour")
    val joined = l.join(r,
      col("rid") === col("rrid") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream
      .format("memory").queryName("stream_interval_join")
      .outputMode("append").start()
    def ev(rid: String, ts: Long, seq: Long) = Ch("db.t", rid, "insert", ts, seq, 0.0, null)
    // batch 1: click a@600; buy a@900 pairs within 10 min
    clicks.addData(ev("a", 600, 1), ev("b", 600, 2))
    buys.addData(ev("a", 900, 10))
    q.processAllAvailable()
    // batch 2: buy b@1000 pairs with the click BUFFERED from batch 1;
    // buy a@5000 is outside the interval — no pair
    buys.addData(ev("b", 1000, 11), ev("a", 5000, 12))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("stream_interval_join")
      .select("rid", "lseq", "rseq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set(("a", 1L, 10L), ("b", 2L, 11L)))
  }

  test("streaming session windows: gap-based sessions merge across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ch]
    val sessions = mem.toDS()
      .withColumn("ets", timestamp_seconds(col("cdc_ts")))
      .withWatermark("ets", "2 hours")
      .groupBy(session_window(col("ets"), "10 minutes"), col("rid"))
      .agg(count(lit(1)).as("n"))
    // session aggregations support append (watermark-gated) or complete;
    // complete emits the merged state every trigger, which is what the
    // assertion reads
    val q = sessions.writeStream
      .format("memory").queryName("stream_sessions")
      .outputMode("complete").start()
    // rid a: events at t=0s and t=300s chain into ONE session (gap < 10min);
    // t=3000s starts a second session. rid b: one singleton session.
    mem.addData(
      Ch("db.t", "a", "insert", 0, 1, 1.0, null),
      Ch("db.t", "a", "insert", 300, 2, 1.0, null),
      Ch("db.t", "b", "insert", 100, 3, 1.0, null))
    q.processAllAvailable()
    mem.addData(Ch("db.t", "a", "insert", 3000, 4, 1.0, null))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stream_sessions")
      .select(col("rid"), col("session_window.start").cast("long").as("st"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows === Map(
      ("a", 0L) -> 2L,    // merged session: two events
      ("a", 3000L) -> 1L, // second session after the gap
      ("b", 100L) -> 1L))
  }

  test("merge state machine runs on the RocksDB state store provider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    CdcStream.useRocksDBStateStore(spark)
    try {
      val mem = MemoryStream[Ch]
      val name = "stream_rocksdb_out"
      val q = CdcStream.merged(mem.toDS()).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      mem.addData(ch("a", "insert", 1), ch("b", "insert", 2))
      q.processAllAvailable()
      mem.addData(ch("a", "delete", 3), ch("b", "update", 4, 7.5))
      q.processAllAvailable()
      // the provider actually in use, from the running query's plan metadata
      val provider = q.lastProgress.stateOperators.headOption
        .map(_.customMetrics.keySet().toString).getOrElse("")
      q.stop()
      assert(provider.contains("rocksdb"),
        s"expected RocksDB custom metrics in state operator, got: $provider")
      val last = spark.table(name).as[Ch].collect()
        .groupBy(_.rid).map { case (r, es) => r -> es.maxBy(_.seq) }
      assert(last("a").cdc_action === Types.None_) // annihilated via RocksDB state
      assert(last("b").cdc_action === "insert" && last("b").value === 7.5)
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch state sink upserts and deletes across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_state").toString
    val state = s"$dir/state"

    // key -> state bucket (must mirror the sink's hash) — the fixture keys
    // land in distinct buckets, which the assertions below rely on
    val buckets = Seq("a", "b", "c").map { r =>
      r -> spark.range(1).select(
        pmod(hash(lit("db.t"), lit(r)), lit(64))).head().getInt(0)
    }.toMap
    assert(buckets.values.toSet.size === 3, s"fixture keys collide: $buckets")
    def bucketFiles(b: Int): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$state/bucket=$b")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }

    val mem = MemoryStream[Ch]
    val q = CdcStream.run(spark, mem.toDS(), state, s"$dir/ckpt")
    mem.addData(ch("a", "insert", 1), ch("b", "insert", 2))
    q.processAllAvailable()
    assert(spark.read.parquet(state).count() === 2)
    val bFilesAfterBatch1 = bucketFiles(buckets("b"))
    assert(bFilesAfterBatch1.nonEmpty)

    // next batch: delete a (annihilates via carried state), add c
    mem.addData(ch("a", "delete", 3), ch("c", "insert", 4))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(state)
      .select("rid", "cdc_action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("b" -> "insert", "c" -> "insert")) // a removed

    // incremental contract: batch 2 touched only a's and c's buckets — b's
    // partition files are byte-identical (same names, lengths, mtimes)
    assert(bucketFiles(buckets("b")) === bFilesAfterBatch1,
      "untouched bucket was rewritten by the micro-batch")
    // a annihilated and was its bucket's only key: directory dropped
    assert(bucketFiles(buckets("a")).isEmpty)
    assert(bucketFiles(buckets("c")).nonEmpty)
  }

  test("state sink replays a batch that crashed between staging and commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_state_crash").toString
    val state = s"$dir/state"

    def bucket(r: String): Int = spark.range(1)
      .select(pmod(hash(lit("db.t"), lit(r)), lit(64))).head().getInt(0)
    // x must be alone in its bucket so the replay also exercises the
    // annihilated-bucket directory delete
    assert(Seq("a", "b", "c").map(bucket).distinct.size === 3)
    assert(!Seq("a", "b", "c").map(bucket).contains(bucket("x")))
    def stateRows(): Map[String, (String, Double)] =
      spark.read.parquet(state).select("rid", "cdc_action", "value")
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap

    val mem = MemoryStream[Ch]
    val q1 = CdcStream.run(spark, mem.toDS(), state, s"$dir/ckpt")
    mem.addData(ch("a", "insert", 1), ch("b", "insert", 2),
      ch("x", "insert", 3, 5.0))
    q1.processAllAvailable(); q1.stop()
    val preCrash = stateRows()
    assert(preCrash.keySet === Set("a", "b", "x"))

    // crash the NEXT batch after the replacement is materialized but
    // before the dynamic overwrite — the widest computed-but-uncommitted
    // window
    GenSwap.afterStageHook =
      () => throw new RuntimeException("injected crash after staging")
    try {
      val q2 = CdcStream.run(spark, mem.toDS(), state, s"$dir/ckpt")
      mem.addData(ch("x", "delete", 4), ch("b", "update", 5, 9.5),
        ch("c", "insert", 6))
      val ex = intercept[Exception] { q2.processAllAvailable() }
      assert(ex.getMessage.contains("injected crash")
        || Option(ex.getCause).exists(_.getMessage.contains("injected crash")))
      // the crash must not have mutated committed state
      assert(stateRows() === preCrash, "state mutated by an uncommitted batch")
    } finally GenSwap.afterStageHook = () => ()

    // restart from the checkpoint: Spark replays the failed batchId; the
    // sink must converge to exactly the batch recompute
    val q3 = CdcStream.run(spark, mem.toDS(), state, s"$dir/ckpt")
    q3.processAllAvailable(); q3.stop()
    assert(stateRows() === Map(
      "a" -> (("insert", 0.0)),
      "b" -> (("insert", 9.5)),  // insert+update folds to insert, new value
      "c" -> (("insert", 0.0)))) // x annihilated across the crash-replay
    // x's single-key bucket directory was dropped on the replayed commit
    assert(!new java.io.File(s"$state/bucket=${bucket("x")}").exists())

    // and a replay of an ALREADY-COMMITTED batch (the other replay mode:
    // crash after commit, before the checkpoint commit-log write) is a
    // no-op: re-apply batch 2's merged output directly
    val replayed = Seq(
      Ch("db.t", "x", Types.None_, 0L, 4, 0.0, null),
      ch("b", "insert", 5, 9.5), ch("c", "insert", 6))
    CdcStream.upsertBatch(replayed.toDF(), state, 64)
    assert(stateRows() === Map(
      "a" -> (("insert", 0.0)),
      "b" -> (("insert", 9.5)),
      "c" -> (("insert", 0.0))), "committed-batch replay was not idempotent")
  }

  test("mid-commit crash (bucket evacuated to .graft-old-*) heals BEFORE " +
      "the next batch plans its state read — cohabiting keys survive") {
    import spark.implicits._
    // the hazard: a crash between a leaf's two commit renames leaves the
    // bucket evacuated in .graft-old-*. If the next batch eagerly resolves
    // its parquet listing BEFORE recovery runs (begin()'s sweep is too
    // late — it runs inside the write), the evacuated bucket's rows are
    // invisible to the anti-join, and the swap then replaces the restored
    // leaf with output computed without them: silent key drop. Both state
    // writers must therefore recover before their first listing/read.
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_midcommit").toString
    // two rids sharing a bucket (k1 touched, k2 the cohabitant that a
    // pre-recovery listing would drop) + one rid elsewhere
    val bk = (0 until 64).map(i => s"r$i").toDF("rid")
      .select(col("rid"), pmod(hash(lit("db.t"), col("rid")), lit(64))
        .as("b")).collect().map(r => r.getString(0) -> r.getInt(1))
    val (bShared, pair) = bk.groupBy(_._2).find(_._2.length >= 2).get
    val Array(k1, k2) = pair.take(2).map(_._1)
    val other = bk.find(_._2 != bShared).get._1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def evacuate(state: String): Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(state, ".graft-old-crashed"))
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(state, s"bucket=$bShared"),
        new org.apache.hadoop.fs.Path(state,
          s".graft-old-crashed/bucket=$bShared")))
    }
    def rows(state: String): Map[String, Double] =
      spark.read.parquet(state).select("rid", "value").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap

    // typed sink path (upsertBatch)
    val s1 = s"$dir/state_upsert"
    CdcStream.upsertBatch(Seq(ch(k1, "insert", 1, 1.0),
      ch(k2, "insert", 2, 2.0), ch(other, "insert", 3, 3.0)).toDF(), s1, 64)
    evacuate(s1)
    CdcStream.upsertBatch(Seq(ch(k1, "update", 4, 9.0)).toDF(), s1, 64)
    assert(rows(s1) === Map(k1 -> 9.0, k2 -> 2.0, other -> 3.0),
      "evacuated bucket's untouched key was dropped (upsertBatch)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s1, ".graft-old-crashed")))

    // untyped/evolving fold path (foldBatch's own stored read)
    val s2 = s"$dir/state_fold"
    CdcStream.foldBatch(Seq(ch(k1, "insert", 1, 1.0),
      ch(k2, "insert", 2, 2.0), ch(other, "insert", 3, 3.0)).toDF(), s2, 64)
    evacuate(s2)
    CdcStream.foldBatch(Seq(ch(k1, "update", 4, 9.0)).toDF(), s2, 64)
    assert(rows(s2) === Map(k1 -> 9.0, k2 -> 2.0, other -> 3.0),
      "evacuated bucket's untouched key was dropped (foldBatch)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s2, ".graft-old-crashed")))
  }

  test("state sink survives a batch annihilating EVERY live key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_state_empty").toString
    val state = s"$dir/state"
    val mem = MemoryStream[Ch]
    val q = CdcStream.run(spark, mem.toDS(), state, s"$dir/ckpt")
    mem.addData(ch("a", "insert", 1))
    q.processAllAvailable()
    assert(spark.read.parquet(state).count() === 1)
    // delete the only live key: all bucket=* dirs are dropped but stateDir
    // itself remains — the next batch must treat it as empty, not crash on
    // schema inference over a parquet-less directory
    mem.addData(ch("a", "delete", 2))
    q.processAllAvailable()
    val stateDir = new java.io.File(state)
    assert(stateDir.exists() &&
      !stateDir.listFiles().exists(_.getName.startsWith("bucket=")))
    mem.addData(ch("b", "insert", 3))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(state)
      .select("rid", "cdc_action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("b" -> "insert"))
  }
}
