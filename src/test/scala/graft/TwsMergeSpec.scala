package graft

import graft.streaming.CdcStream
import graft.streaming.CdcStream.Ch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The transformWithState merge ([[CdcStream.mergedTws]]): fold parity
  * with the fMGWS [[CdcStream.merged]], tombstone emission, and the
  * native per-variable TTL — within the horizon a stale replay cannot
  * resurrect an annihilated key; past it the tombstone has aged out of
  * the store (the documented trade: the at-least-once window the guard
  * defends is bounded by the checkpoint, so replays that late cannot
  * happen in a correctly-configured deployment).
  *
  * Polling (not processAllAvailable): TimeMode.ProcessingTime makes the
  * engine schedule batches continuously, so there is no quiescent point.
  * The state-growth bound under churn (state shrinks to the live keys
  * past the horizon) is pinned here too.
  */
class TwsMergeSpec extends SparkSuite {

  // transformWithState needs the RocksDB provider (per-variable column
  // families); a session CLONE scopes the conf to this suite's queries
  private lazy val rdb: org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    CdcStream.useRocksDBStateStore(s)
    s
  }

  private def ch(rid: String, act: String, seq: Long, v: Double = 0.0) =
    Ch("db.t", rid, act, 1000L + seq, seq, v, s"p$seq")

  private def pollUntil(deadlineMs: Long = 30000L)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + deadlineMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < end) { Thread.sleep(100); ok = cond }
    ok
  }

  test("fold parity with merged(): same per-key outcomes and tombstone " +
      "emissions across multi-batch insert/update/delete/revive") {
    import rdb.implicits._
    implicit val sqlCtx = rdb.sqlContext
    val name = "tws_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val mem = MemoryStream[Ch]
    val q = CdcStream.mergedTws(mem.toDS(), java.time.Duration.ofDays(1))
      .writeStream.format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      def last(rid: String) = rdb.table(name).as[Ch].collect()
        .filter(_.rid == rid).maxBy(_.seq)
      mem.addData(ch("a", "insert", 1), ch("b", "insert", 2),
        ch("c", "update", 3))
      assert(pollUntil() { rdb.table(name).count() >= 3 })
      // delete-annihilate a; in-batch insert+delete of d annihilates too
      mem.addData(ch("a", "delete", 4), ch("b", "update", 5, 9.5),
        ch("d", "insert", 6), ch("d", "delete", 7))
      assert(pollUntil() { rdb.table(name).count() >= 6 })
      assert(last("a").cdc_action === Types.None_)
      assert(last("d").cdc_action === Types.None_ && last("d").seq === 7)
      assert(last("b").cdc_action === "insert" && last("b").value === 9.5)
      // stale replay within the horizon: dead stays dead
      mem.addData(ch("a", "insert", 1))
      mem.addData(ch("probe", "insert", 8))
      assert(pollUntil() { rdb.table(name).as[Ch].collect()
        .exists(_.rid == "probe") })
      assert(last("a").cdc_action === Types.None_,
        s"stale replay resurrected the dead key: ${last("a")}")
      // a genuinely NEW insert revives
      mem.addData(ch("a", "insert", 9, 3.5))
      assert(pollUntil() { last("a").cdc_action == "insert" })
      assert(last("a").value === 3.5)
      // final state equals the batch compact over the same log
      val full = Seq(ch("a", "insert", 1), ch("b", "insert", 2),
        ch("c", "update", 3), ch("a", "delete", 4), ch("b", "update", 5, 9.5),
        ch("d", "insert", 6), ch("d", "delete", 7), ch("probe", "insert", 8),
        ch("a", "insert", 9, 3.5))
      val batch = Merge.compact(full.toDF(), Seq("table", "rid"))
        .collect().map(r => r.getString(1) -> r.getString(2)).toMap
      val streamFinal = rdb.table(name).as[Ch].collect()
        .groupBy(_.rid).map { case (r, es) => r -> es.maxBy(_.seq) }
        .collect { case (r, e) if e.cdc_action != Types.None_ =>
          r -> e.cdc_action }
      assert(streamFinal.toMap === batch)
    } finally q.stop()
  }

  test("compactStreamedTws drains to quiescence and equals the fMGWS " +
      "drain's snapshot on the same fixture (the r16 verdict #6 harness)") {
    val dir = "/root/testdata/sf0.001"
    val tws = CdcStream.compactStreamedTws(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val fmgws = CdcStream.compactStreamed(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(tws.nonEmpty)
    assert(tws === fmgws)
    // an impossible deadline fails LOUDLY, never hangs: the drain is
    // bounded by construction
    import rdb.implicits._
    implicit val sqlCtx = rdb.sqlContext
    val q = CdcStream.mergedTws(MemoryStream[Ch].toDS(),
        java.time.Duration.ofDays(1))
      .writeStream.format("noop").outputMode("update")
      .trigger(Trigger.ProcessingTime(50)).start()
    val e = try intercept[IllegalStateException] {
      CdcStream.drainTws(q, expected = 1L, deadlineMs = 1L)
    } finally q.stop()
    assert(e.getMessage.contains("did not quiesce"), e.getMessage)
  }

  test("native TTL ages the tombstone out of the store: within the " +
      "horizon a stale insert stays dead; past it the guard is gone " +
      "(state forgets — the bounded-replay trade, made observable)") {
    import rdb.implicits._
    implicit val sqlCtx = rdb.sqlContext
    val name = "twsttl_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val mem = MemoryStream[Ch]
    val q = CdcStream.mergedTws(mem.toDS(),
        java.time.Duration.ofMillis(800))
      .writeStream.format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      def last(rid: String) = rdb.table(name).as[Ch].collect()
        .filter(_.rid == rid).maxBy(_.seq)
      mem.addData(ch("a", "insert", 5))
      assert(pollUntil() { rdb.table(name).count() >= 1 })
      mem.addData(ch("a", "delete", 6)) // annihilate -> TTL'd tombstone
      assert(pollUntil() { last("a").cdc_action == Types.None_ })
      // within the horizon: stale replay folds against the tombstone
      mem.addData(ch("a", "insert", 5), ch("p1", "insert", 7))
      assert(pollUntil() { rdb.table(name).as[Ch].collect()
        .exists(_.rid == "p1") })
      assert(last("a").cdc_action === Types.None_)
      // past the horizon: the tombstone has EXPIRED from the store —
      // the same stale insert now reads an absent key and folds fresh
      Thread.sleep(1200)
      mem.addData(ch("a", "insert", 5), ch("p2", "insert", 8))
      assert(pollUntil() { rdb.table(name).as[Ch].collect()
        .exists(_.rid == "p2") })
      // an (a, insert, seq=5) EMISSION can only come from the
      // post-expiry fold — the within-horizon replay emitted nothing
      // (note: the sink also still holds the older seq=6 tombstone row,
      // so a latest-by-seq view would not see this)
      assert(pollUntil() { rdb.table(name).as[Ch].collect()
        .exists(e => e.rid == "a" && e.cdc_action == "insert" &&
          e.seq == 5L) },
        s"tombstone did not age out: ${rdb.table(name).as[Ch].collect()
          .filter(_.rid == "a").toSeq}")
    } finally q.stop()
  }

  test("tombstones age out at the TTL horizon under 8-key churn: state " +
      "shrinks to the live keys, live keys survive, and an insert after " +
      "the sweep revives the key") {
    import rdb.implicits._
    implicit val sqlCtx = rdb.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_twsttl").toString
    val name = "twschurn_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val mem = MemoryStream[Ch]
    val q = CdcStream.mergedTws(mem.toDS(), java.time.Duration.ofMillis(500))
      .writeStream.format("memory").queryName(name).outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50)).start()
    // (rid, action) per stored row of both state variables, as of the
    // last committed batch (a TTL'd variable nests the row beside its
    // `ttlExpirationMs`)
    def stateRows(): Seq[(String, String)] =
      Seq("live" -> "value", "tomb" -> "value.value").flatMap {
        case (v, row) =>
          rdb.read.format("statestore").option("path", ckpt)
            .option("stateVarName", v).load()
            .selectExpr(s"$row.rid", s"$row.cdc_action").collect()
            .map(r => r.getString(0) -> r.getString(1)).toSeq
      }
    try {
      // churn: 8 keys annihilated, 2 stay live
      mem.addData((1 to 8).map(i => ch(s"c$i", "insert", i)) ++
        Seq(ch("live1", "insert", 9), ch("live2", "insert", 10)): _*)
      assert(pollUntil() { rdb.table(name).count() >= 10 },
        "insert batch never drained")
      mem.addData((1 to 8).map(i => ch(s"c$i", "delete", 10L + i)): _*)
      assert(pollUntil() {
        rdb.table(name).as[Ch].collect()
          .count(_.cdc_action == Types.None_) >= 8
      }, "annihilation tombstones never emitted")
      // past the horizon the store must shrink to the live keys only —
      // ProcessingTime TimeMode keeps batches running, so the TTL sweep
      // needs no heartbeat data
      assert(pollUntil() { stateRows().length == 2 },
        s"tombstones not swept: ${stateRows().sorted.mkString(", ")}")
      assert(stateRows().toMap === Map("live1" -> "insert",
        "live2" -> "insert"), "sweep removed a LIVE key")
      // post-sweep revival: a genuinely new insert re-creates the key
      mem.addData(ch("c1", "insert", 30))
      assert(pollUntil() { stateRows().toMap.get("c1").contains("insert") },
        "post-sweep insert did not revive the key")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
