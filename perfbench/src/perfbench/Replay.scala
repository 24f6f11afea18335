package perfbench

import graft.{CdcBatch, Merge}
import graft.sources.Csv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `cdc_replay`: the reference's dump cycle as a bounded batch. A seeded
  * change log over Zipf-skewed keys is derived (`CdcBatch.changeLog`),
  * compacted to the net change per key (`Merge.compact`) and dumped to
  * date-partitioned, row-capped CSV (`Csv.dumpCsv`). One operation is one
  * full cycle over the whole log.
  */
object Replay extends Workload {
  val name = "cdc_replay"

  // the action mix is the events fixture's (testdata sf0.1 event_type
  // shares under changeLog's signup/error/other mapping: 20 % insert, 20 %
  // delete, 60 % update); the key count and the ~1 % hottest-key share
  // are the reference scenario's; 4 changes per key is sized so a cycle
  // takes about a second on four cores
  val changes = Gen.Changes(n = 400000L, nKeys = 100000, zipfS = 0.7,
    pInsert = 0.2, pDelete = 0.2, t0Sec = 1767225600L, spanSec = 3 * 86400L)
  val maxRows = 20000L

  private def sf(dir: String) = s"$dir/sf"

  def generate(ctx: Ctx, dir: String): Unit =
    Gen.writeEvents(ctx.spark, changes, ctx.seed, sf(dir), ctx.cores * 2)

  def inputHash(ctx: Ctx, dir: String): String =
    Gen.tableHash(ctx.spark.read.parquet(s"${sf(dir)}/events.parquet"))

  private def compact(cl: DataFrame): DataFrame =
    Merge.compact(cl, keyCols = Seq("table", "rid"),
      payloadCols = Seq("cdc_ts", "value", "props"))

  private def withDt(df: DataFrame): DataFrame =
    df.withColumn("dt", date_format(from_unixtime(col("cdc_ts")), "yyyyMMdd"))

  /** One cycle. Traced, each layer's output is forced at its boundary so
    * the span holds that layer's work.
    */
  private def cycle(ctx: Ctx, dir: String, out: String, pass: Pass): Unit = {
    val spark = ctx.spark
    val tr = pass.trace
    if (!tr.enabled)
      Csv.dumpCsv(withDt(compact(CdcBatch.changeLog(spark, sf(dir)))), out,
        maxRows)
    else tr.span("replay.cycle") {
      val cl = tr.span("CdcBatch.changeLog") {
        val d = CdcBatch.changeLog(spark, sf(dir)).localCheckpoint()
        pass.add("CdcBatch.changeLog.rows_out", d.count().toDouble)
        d
      }
      val net = tr.span("Merge.compact") {
        val d = compact(cl).localCheckpoint()
        pass.add("Merge.compact.keys_out", d.count().toDouble)
        d
      }
      tr.span("Csv.dumpCsv") { Csv.dumpCsv(withDt(net), out, maxRows) }
      val files = Files.dataFiles(out, ".csv")
      pass.add("Csv.dumpCsv.files", files.size.toDouble)
      pass.add("Csv.dumpCsv.bytes", files.map(_._2).sum.toDouble)
      cl.unpersist(); net.unpersist()
    }
  }

  def warmup(ctx: Ctx, dir: String, pass: Pass): Unit =
    for (i <- 1 to 4) cycle(ctx, dir, s"${pass.out}/dump$i", pass)

  // one cycle takes about a second on four cores
  def opsFor(seconds: Double): Int = math.max(1, math.round(seconds).toInt)

  def op(ctx: Ctx, dir: String, pass: Pass, i: Int): Unit = {
    val out = s"${pass.out}/dump$i"
    pass.add("cycle_s", Clock.timed(cycle(ctx, dir, out, pass))._2)
    pass.outputs += out
  }

  /** The reference fold of the generated change log, per seed. */
  private val folds = scala.collection.mutable.Map.empty[Long,
    scala.collection.mutable.HashMap[Long, RefFold.Net]]

  /** Every dump read back must equal the reference fold of the generated
    * change log, and no file may exceed the row cap.
    */
  def verify(ctx: Ctx, dir: String, pass: Pass): Seq[Seq[String]] = {
    val seed = ctx.seed
    val c = changes
    val expected = folds.getOrElseUpdate(seed,
      RefFold.fold(0L, c.n, i => c.key(seed, i), i => c.action(seed, i)))
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    pass.outputs.toSeq.map { case out: String =>
      val back = ctx.spark.read.option("header", "true").csv(out)
      val over = back.groupBy(input_file_name()).count()
        .filter(col("count") > maxRows).count()
      val rows = back.select(col("rid"), col("cdc_action"), col("cdc_ts"),
        col("seq"), col("value"), col("props"), col("dt").cast("string"),
        col("table")).collect()
      val bad = Seq.newBuilder[String]
      if (over > 0) bad += s"$over csv files exceed the $maxRows-row cap"
      if (rows.length != expected.size)
        bad += s"dump has ${rows.length} rows, reference has ${expected.size}"
      var shown = 0
      for (r <- rows) {
        val k = r.getString(0).toLong
        val ok = expected.get(k).exists { n =>
          val i = n.last
          r.getString(1) == n.action && r.getString(2).toLong == c.cdcTs(i) &&
            r.getString(3).toLong == i + 1 &&
            r.getString(4).toDouble == c.value(seed, i) &&
            r.getString(5) == c.props(seed, i) &&
            r.getString(6) == fmt.format(java.time.Instant.ofEpochSecond(c.cdcTs(i))) &&
            r.getString(7) == "db_test.events"
        }
        if (!ok && shown < 5) { bad += s"row mismatch for rid $k: $r"; shown += 1 }
      }
      bad.result()
    }
  }

  def endToEnd(pass: Pass, scale: Double): Map[String, Double] = Map(
    "throughput_per_s" -> changes.n / (pass.mean("cycle_s") * scale),
    "latency_p50_ms" -> pass.med("cycle_s") * scale * 1000)

  override def scalingLayers: Seq[String] =
    Seq("CdcBatch.changeLog", "Merge.compact", "Csv.dumpCsv")

  def layers(pass: Pass): Map[String, Double] = {
    val tr = pass.trace
    def per(n: String, c: Counters => Double): Double =
      c(tr.total(n)) / math.max(1, tr.named(n).size)
    val cl = "CdcBatch.changeLog"; val mc = "Merge.compact"; val dc = "Csv.dumpCsv"
    Map(
      s"$cl.wall_s" -> Stats.median(tr.named(cl).map(_.wallS)),
      s"$cl.plan_s" -> per(cl, _.planMs / 1000),
      s"$cl.rows_out" -> pass.med(s"$cl.rows_out"),
      s"$mc.wall_s" -> Stats.median(tr.named(mc).map(_.wallS)),
      s"$mc.plan_s" -> per(mc, _.planMs / 1000),
      s"$mc.task_s" -> per(mc, _.taskMs / 1000.0),
      s"$mc.shuffle_write_bytes" -> per(mc, _.shuffleWrite.toDouble),
      s"$mc.spill_bytes" -> per(mc, _.spill.toDouble),
      s"$mc.keys_out" -> pass.med(s"$mc.keys_out"),
      s"$mc.keep_ratio" -> pass.med(s"$mc.keys_out") / pass.med(s"$cl.rows_out"),
      s"$dc.wall_s" -> Stats.median(tr.named(dc).map(_.wallS)),
      s"$dc.plan_s" -> per(dc, _.planMs / 1000),
      s"$dc.task_s" -> per(dc, _.taskMs / 1000.0),
      s"$dc.files" -> pass.med(s"$dc.files"),
      s"$dc.bytes" -> pass.med(s"$dc.bytes"))
  }
}
