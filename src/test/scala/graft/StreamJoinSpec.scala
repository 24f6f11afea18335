package graft

import graft.streaming.StreamJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-stream interval join contract: matches span micro-batch
  * boundaries exactly as the batch interval join computes them, join
  * state is bounded by the watermark (eviction really happens), and rows
  * later than the watermark delay are dropped — the documented trade.
  */
class StreamJoinSpec extends SparkSuite {

  // (key, event-time seconds, id) — times become timestamps via
  // timestamp_seconds so watermark arithmetic is exact
  private case class Ev(k: Long, tsSec: Long, id: Long)

  private def drive(
      leftBatches: Seq[Seq[Ev]],
      rightBatches: Seq[Seq[Ev]],
      lowerSec: Long,
      upperSec: Long,
      delay: String): (Seq[(Long, Long)], Long) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[Ev]
    val rMem = MemoryStream[Ev]
    def shape(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("k").as(s"${p}_k"),
        timestamp_seconds(col("tsSec")).as(s"${p}_ts"),
        col("id").as(s"${p}_id"))
    val name = "ssj_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = StreamJoin.intervalJoin(
      shape(lMem.toDF(), "l"), shape(rMem.toDF(), "r"),
      "l_k", "r_k", "l_ts", "r_ts", lowerSec, upperSec, delay)
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    leftBatches.zipAll(rightBatches, Seq.empty[Ev], Seq.empty[Ev])
      .foreach { case (lb, rb) =>
        if (lb.nonEmpty) lMem.addData(lb)
        if (rb.nonEmpty) rMem.addData(rb)
        q.processAllAvailable()
      }
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    (out, stateRows)
  }

  private def batchJoin(
      left: Seq[Ev], right: Seq[Ev],
      lowerSec: Long, upperSec: Long): Seq[(Long, Long)] =
    (for {
      l <- left; r <- right
      if l.k == r.k && r.tsSec >= l.tsSec - lowerSec &&
        r.tsSec <= l.tsSec + upperSec
    } yield (l.id, r.id)).sorted

  test("cross-micro-batch matches equal the batch interval join") {
    // left and right rows that must pair land in DIFFERENT batches in
    // both directions (left-then-right and right-then-left), in event-time
    // order; the buffered state must produce every batch pair
    val l1 = Seq(Ev(1, 100, 1001), Ev(2, 120, 1002))
    val r1 = Seq(Ev(1, 90, 2001))
    val l2 = Seq(Ev(1, 200, 1003))
    val r2 = Seq(Ev(1, 150, 2002), Ev(2, 130, 2003))
    val l3 = Seq.empty[Ev]
    val r3 = Seq(Ev(1, 210, 2004), Ev(2, 500, 2005))
    val (got, _) = drive(Seq(l1, l2, l3), Seq(r1, r2, r3),
      lowerSec = 60, upperSec = 30, delay = "1000 seconds")
    val want = batchJoin(l1 ++ l2 ++ l3, r1 ++ r2 ++ r3, 60, 30)
    assert(want.nonEmpty && got === want)
    // the fixture really exercises cross-batch pairing: 1003(ts 200) ⋈
    // 2002(ts 150, earlier batch) and 1001(ts 100) ⋈ 2002 must disagree
    // with a per-batch-only join
    assert(got.contains((1003L, 2002L)))
  }

  test("watermark bounds join state: buffered rows track the window, " +
      "not the feed") {
    // 40 batches of in-order data marching event time far past
    // interval + delay: with eviction, total buffered state stays well
    // under the 80 rows fed
    // times start at 1000s, not epoch 0: a row timestamped exactly at the
    // initial watermark (0) is dropped as late — boundary semantics, not
    // part of this test
    val left = (0 until 40).map(i => Seq(Ev(1, 1000L * (i + 1), 1000L + i)))
    val right = (0 until 40).map(i => Seq(Ev(1, 1000L * (i + 1) + 1, 2000L + i)))
    val (got, stateRows) = drive(left, right,
      lowerSec = 10, upperSec = 10, delay = "5 seconds")
    val wantAll = (0 until 40).map(i => (1000L + i, 2000L + i))
    assert(got.size === 40, // each right row pairs with its same-tick left
      s"missing: ${wantAll.filterNot(got.contains)}, extra: ${got.filterNot(wantAll.contains)}")
    assert(stateRows >= 0, "no progress recorded")
    assert(stateRows < 20,
      s"state holds $stateRows rows — watermark eviction not happening")
  }

  test("left_outer: unmatched left emits null-padded after its match " +
      "horizon passes; matched rows never get a null twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[Ev]
    val rMem = MemoryStream[Ev]
    def shape(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("k").as(s"${p}_k"),
        timestamp_seconds(col("tsSec")).as(s"${p}_ts"),
        col("id").as(s"${p}_id"))
    val name = "ssjo_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = StreamJoin.intervalJoin(
      shape(lMem.toDF(), "l"), shape(rMem.toDF(), "r"),
      "l_k", "r_k", "l_ts", "r_ts", lowerSec = 10, upperSec = 10,
      watermarkDelay = "5 seconds", joinType = "left_outer")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: 101 matches 201; 102 has no partner
    lMem.addData(Ev(1, 1000, 101), Ev(1, 1100, 102))
    rMem.addData(Ev(1, 1005, 201))
    q.processAllAvailable()
    val early = spark.table(name).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong)))
    assert(early.contains((101L, Some(201L))))
    // 102's horizon (1100+10+5) has not passed — no null emission yet
    assert(!early.exists(_._1 == 102L),
      s"null-padded row emitted before the match horizon: ${early.toSeq}")

    // batch 2 marches the watermark far past 102's horizon
    lMem.addData(Ev(2, 5000, 103))
    rMem.addData(Ev(2, 5001, 202))
    q.processAllAvailable()
    // outer results surface on the trigger AFTER the watermark advance
    lMem.addData(Ev(2, 6000, 104))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong)))
      .toSeq
    assert(out.contains((102L, None)),
      s"unmatched left never emitted null-padded: $out")
    // matched rows appear exactly once, never also as a null twin
    assert(!out.contains((101L, None)), out.toString)
    assert(out.count(_._1 == 101L) === 1)
  }

  test("full_outer: both sides' unmatched rows emit null-padded past " +
      "their own horizons; matched rows never get a null twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[Ev]
    val rMem = MemoryStream[Ev]
    def shape(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("k").as(s"${p}_k"),
        timestamp_seconds(col("tsSec")).as(s"${p}_ts"),
        col("id").as(s"${p}_id"))
    val name = "ssjf_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = StreamJoin.intervalJoin(
      shape(lMem.toDF(), "l"), shape(rMem.toDF(), "r"),
      "l_k", "r_k", "l_ts", "r_ts", lowerSec = 10, upperSec = 10,
      watermarkDelay = "5 seconds", joinType = "full_outer")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // batch 1: 101⋈201; 102 (left) and 203 (right) have no partner
    lMem.addData(Ev(1, 1000, 101), Ev(2, 1050, 102))
    rMem.addData(Ev(1, 1005, 201), Ev(3, 1100, 203))
    q.processAllAvailable()
    // march both watermarks far past every horizon, then one more
    // trigger to surface the finalized outer rows
    lMem.addData(Ev(9, 9000, 109))
    rMem.addData(Ev(9, 9001, 209))
    q.processAllAvailable()
    lMem.addData(Ev(9, 9500, 110))
    rMem.addData(Ev(9, 9501, 210))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name).collect()
      .map(r => (Option(r.get(0)).map(_.toString.toLong),
        Option(r.get(1)).map(_.toString.toLong))).toSeq
    assert(out.contains((Some(101L), Some(201L))))
    assert(out.contains((Some(102L), None)),
      s"unmatched left never emitted: $out")
    assert(out.contains((None, Some(203L))),
      s"unmatched right never emitted: $out")
    // matched rows appear exactly once — never also null-padded
    assert(!out.contains((Some(101L), None)) &&
      !out.contains((None, Some(201L))), out.toString)
  }

  test("drainToParquet: temp fallback leaks no work dirs and stays " +
      "collectable; explicit workDir keeps the ledger in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tmpDirs(): Set[String] =
      new java.io.File(sys.props("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith("graft_ssj")).map(_.getName).toSet
    def drainOnce(wd: Option[String]): Set[Long] = {
      val mem = MemoryStream[Ev]
      mem.addData(Ev(1, 100, 11), Ev(2, 200, 12))
      streaming.CdcStream.drainToParquet(spark,
          mem.toDF().withColumn("ets", timestamp_seconds(col("tsSec")))
            .withWatermark("ets", "1 second").select("k", "id"), wd)
        .collect().map(_.getLong(1)).toSet
    }
    val before = tmpDirs()
    // the fallback materialized its result and removed the work root —
    // and the returned frame stays collectable after the deletion
    assert(drainOnce(None) === Set(11L, 12L))
    assert(tmpDirs() === before, "temp-dir fallback leaked work dirs")
    val root = java.nio.file.Files.createTempDirectory("graft_wdj").toString
    try {
      assert(drainOnce(Some(s"$root/run1")) === Set(11L, 12L))
      // an explicit workDir is caller-owned: the drained ledger stays
      val out = new java.io.File(s"$root/run1/out")
      assert(out.exists() &&
        out.listFiles().exists(_.getName.endsWith(".parquet")),
        "ledger missing under explicit workDir")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("drainToParquet update mode: a batch replayed against the same " +
      "checkpoint replaces its first attempt — no duplicate rows") {
    import spark.implicits._
    import streaming.CdcStream.Ch
    val root = java.nio.file.Files.createTempDirectory("graft_updr").toString
    def c(rid: String, act: String, seq: Long) =
      Ch("db.t", rid, act, seq, seq, seq.toDouble, s"p$seq")
    // three files → three micro-batches, each emitting two update rows
    Seq(Seq(c("a", "insert", 1), c("b", "insert", 2)),
        Seq(c("a", "update", 3), c("c", "insert", 4)),
        Seq(c("b", "delete", 5), c("c", "update", 6)))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.toDF().coalesce(1).write.parquet(s"$root/src/f$i") }
    def drain(): Seq[Ch] = streaming.CdcStream.drainToParquet(spark,
        streaming.CdcStream.merged(spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[Ch].schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true")
          .parquet(s"$root/src").as[Ch]).toDF(),
        workDir = Some(s"$root/run"), mode = "update")
      .as[Ch].collect().toSeq.sortBy(e => (e.seq, e.rid))
    try {
      val first = drain()
      assert(first.length === 6, first.mkString("\n"))
      // crash after batch 2's sink write, before its commit: the restart
      // re-runs batch 2 from the offset log
      val commits = new java.io.File(s"$root/run/ckpt/commits")
      assert(new java.io.File(commits, "2").delete(), "no commit for batch 2")
      new java.io.File(commits, ".2.crc").delete()
      val replayed = drain()
      assert(replayed.distinct.length === replayed.length,
        s"replay duplicated rows:\n${replayed.mkString("\n")}")
      assert(replayed === first)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("drainToParquet complete mode: a batch replayed against the same " +
      "checkpoint rewrites its own snapshot — one snapshot dir is left") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cmpr").toString
    // three files → three micro-batches, each changing the running counts
    Seq(Seq(("a", 1L), ("b", 2L)), Seq(("a", 3L), ("c", 4L)),
        Seq(("b", 5L), ("c", 6L), ("d", 7L)))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("k", "x").coalesce(1).write.parquet(s"$root/src/f$i") }
    def drain(): Seq[(String, Long, Long)] =
      streaming.CdcStream.drainToParquet(spark,
          spark.readStream.schema("k STRING, x LONG")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(s"$root/src")
            .groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("sx")),
          workDir = Some(s"$root/run"), mode = "complete")
        .as[(String, Long, Long)].collect().toSeq.sorted
    def snapshotDirs(): Seq[String] =
      new java.io.File(s"$root/run/out").listFiles()
        .map(_.getName).filter(_.startsWith("graft_batch=")).toSeq
    try {
      val first = drain()
      assert(first === Seq(("a", 2L, 4L), ("b", 2L, 7L), ("c", 2L, 10L),
        ("d", 1L, 7L)))
      assert(snapshotDirs() === Seq("graft_batch=2"))
      // crash after batch 2's snapshot write, before its commit: the
      // restart re-runs batch 2 from the offset log
      val commits = new java.io.File(s"$root/run/ckpt/commits")
      assert(new java.io.File(commits, "2").delete(), "no commit for batch 2")
      new java.io.File(commits, ".2.crc").delete()
      assert(drain() === first)
      assert(snapshotDirs() === Seq("graft_batch=2"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("checkpoint recovery: a restarted join pairs new arrivals against " +
      "state buffered by the PREVIOUS run") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ssjr").toString
    def stage(side: String, rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("k", "tsSec", "id").coalesce(1)
        .write.mode("append").parquet(s"$root/$side")
    def runOnce(): Unit = {
      def src(side: String, p: String) =
        spark.readStream
          .schema("k LONG, tsSec LONG, id LONG").parquet(s"$root/$side")
          .select(col("k").as(s"${p}_k"),
            timestamp_seconds(col("tsSec")).as(s"${p}_ts"),
            col("id").as(s"${p}_id"))
      val q = StreamJoin.intervalJoin(src("l", "l"), src("r", "r"),
        "l_k", "r_k", "l_ts", "r_ts", lowerSec = 20, upperSec = 20,
        watermarkDelay = "1000 seconds")
        .select("l_id", "r_id")
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      // run 1: one pair within the drain
      stage("l", Seq((1L, 100L, 11L)))
      stage("r", Seq((1L, 105L, 21L)))
      runOnce()
      // the "deployment restart": new files land, a NEW query resumes
      // from the same checkpoint — offsets skip run 1's files, and the
      // restored join state must pair across the boundary in BOTH
      // directions (old-left × new-right, new-left × old-right)
      stage("l", Seq((1L, 120L, 12L)))
      stage("r", Seq((1L, 110L, 22L)))
      runOnce()
      val got = spark.read.parquet(s"$root/out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = batchJoin(
        Seq(Ev(1, 100, 11), Ev(1, 120, 12)),
        Seq(Ev(1, 105, 21), Ev(1, 110, 22)), 20, 20).toSet
      assert(got === want, s"got $got, want $want")
      assert(got.contains((11L, 22L)) && got.contains((12L, 21L)),
        "cross-restart pairs missing — join state not restored")
      // each pair exactly once: replayed offsets must not double-emit
      val all = spark.read.parquet(s"$root/out").count()
      assert(all === want.size.toLong, s"duplicate emissions: $all")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("stateScopedSession: scopes the state width to the clone, " +
      "leaves the parent's shuffle width untouched, honors the knob") {
    val parentWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val c1 = streaming.CdcStream.stateScopedSession(spark)
    assert(c1.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parentWidth)
    spark.conf.set("spark.graft.statePartitions", "3")
    try {
      val c2 = streaming.CdcStream.stateScopedSession(spark)
      assert(c2.conf.get("spark.sql.shuffle.partitions") === "3")
    } finally spark.conf.unset("spark.graft.statePartitions")
  }

  test("rows later than the watermark delay are dropped, in-delay " +
      "stragglers still join") {
    // batch 1 advances the watermark to ~990 (max 1000 − 10 s delay);
    // batch 2 delivers one straggler inside the delay (ts 995 — must
    // join) and one beyond it (ts 500 — must be dropped silently)
    val l1 = Seq(Ev(1, 1000, 1001))
    val r1 = Seq(Ev(1, 999, 2001))
    val l2 = Seq.empty[Ev]
    val r2 = Seq(Ev(1, 995, 2002), Ev(1, 500, 2003))
    val (got, _) = drive(Seq(l1, l2), Seq(r1, r2),
      lowerSec = 600, upperSec = 0, delay = "10 seconds")
    assert(got.contains((1001L, 2001L)))
    assert(got.contains((1001L, 2002L)), "in-delay straggler was dropped")
    assert(!got.exists(_._2 == 2003L),
      "row older than the watermark joined — late-drop contract broken")
  }
}
