package perfbench

import graft.streaming.CdcStream
import org.apache.spark.sql.Encoders
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The streaming layer, measured in `cdc_replay`'s traced run: the deploy
  * shape `CdcStream.run` — keyed merge state into
  * the bucketed parquet state sink — fed by an open-loop generator. The
  * change files are written first; during the window a single
  * dropper thread renames file i into the source directory at
  * t0 + i * period, whether or not the query keeps up. A file's freshness
  * runs from its due time to the commit of the micro-batch that consumed
  * it; files map to batches by the batches' cumulative input rows.
  */
object StreamRun {

  // 500 changes/s offered in 20-row files (both assumptions), well below
  // the query's capacity on four cores: nearer capacity a slower machine
  // lengthens every batch and then each batch's input, which amplifies
  // run-to-run noise in freshness; at least 200 files support a p95
  val rowsPerFile = 20
  val periodMs = 40L
  // sized to this state (~15k live keys on four cores): 8 buckets gave
  // the shortest micro-batches of 4/8/16, and the deploy default of 64
  // rewrites 64 tiny bucket dirs per micro-batch and falls behind
  val nBuckets = 8
  val warmFiles = 12
  // changes applied before the window, so the window sees a standing
  // state rather than one growing from empty; folded one file per batch,
  // each batch a catch-up throughput sample
  val prefillFiles = 4
  val prefillRows = 24000
  private def spec(files: Int) = Gen.Changes(
    n = prefillRows + rowsPerFile.toLong * files,
    nKeys = 100000, zipfS = 0.7, pInsert = 0.2, pDelete = 0.2,
    t0Sec = 1767225600L, spanSec = 3600L)

  /** Files offered in a window of `seconds`, never fewer than the 200 a
    * p95 needs.
    */
  def filesFor(seconds: Double): Int =
    math.max(200, math.round(seconds * 1000 / periodMs).toInt)

  private def staging(dir: String) = s"$dir/staging"
  private def prefill(dir: String) = s"$dir/prefill"

  /** Writes the prefill and `files` window files into `dir`, and the
    * warm-up's files into `warm`.
    */
  private def generate(ctx: Ctx, dir: String, warm: String, files: Int): Unit = {
    val c = spec(files)
    Gen.writeChFiles(ctx.spark, c, ctx.seed, 0L, prefillRows / prefillFiles,
      prefillFiles, prefill(dir), ctx.cores)
    Gen.writeChFiles(ctx.spark, c, ctx.seed, prefillRows, rowsPerFile, files,
      staging(dir), ctx.cores)
    Gen.writeChFiles(ctx.spark, c, ctx.seed, prefillRows, rowsPerFile, warmFiles,
      staging(warm), ctx.cores)
  }

  private def inputHash(ctx: Ctx, dir: String): String = Gen.combine(Seq(
    Gen.tableHash(ctx.spark.read.parquet(prefill(dir))),
    Gen.tableHash(ctx.spark.read.parquet(staging(dir)))))

  private def fileOf(dir: String, i: Int): java.io.File =
    new java.io.File(s"$dir/f=$i").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get

  /** Start `CdcStream.run`, let it fold the prefill (when `prefilled`),
    * then drop the first `files` staged files one every `periodMs`.
    * Returns the due and actual drop times and the micro-batches after the
    * prefill.
    */
  private def stream(ctx: Ctx, dir: String, out: String, files: Int,
      tr: Trace, prefilled: Boolean = true)
      : (Array[Long], Array[Long], Seq[Stats.Batch], Seq[Stats.Batch]) = {
    val spark = ctx.spark
    val drop = new java.io.File(s"$out/drop")
    drop.mkdirs()
    val srcFiles = (0 until files).map(fileOf(staging(dir), _))
    val enc = Encoders.product[CdcStream.Ch]
    val source = spark.readStream.schema(enc.schema)
      .parquet(drop.getPath).as[CdcStream.Ch](enc)
    val due = new Array[Long](files)
    val actual = new Array[Long](files)
    var lastPrefill = -1L
    val q = tr.span("CdcStream.run") {
      val q = CdcStream.run(spark, source, s"$out/state", s"$out/checkpoint", nBuckets)
      try {
        if (prefilled) {
          for (i <- 0 until prefillFiles) {
            java.nio.file.Files.move(fileOf(prefill(dir), i).toPath,
              new java.io.File(drop, s"prefill$i.parquet").toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          }
          lastPrefill = q.lastProgress.batchId
        }
        val t0 = System.currentTimeMillis() + 200
        val dropper = new Thread(() => {
          for (i <- 0 until files) {
            due(i) = t0 + i * periodMs
            val wait = due(i) - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            java.nio.file.Files.move(srcFiles(i).toPath,
              new java.io.File(drop, f"c$i%06d.parquet").toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            actual(i) = System.currentTimeMillis()
          }
        }, "perfbench-dropper")
        dropper.start()
        dropper.join()
        q.processAllAvailable()
      } finally q.stop()
      q
    }
    q.exception.foreach(e => throw e)
    tr.drain()
    val all = tr.progress.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId)
      .map(p => p.batchId -> Stats.Batch(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.get("triggerExecution").longValue, p.numInputRows))
    val (pre, window) = all.partition(_._1 <= lastPrefill)
    (due, actual, window.map(_._2), pre.map(_._2))
  }

  /** What the streaming layer gives `cdc_replay`'s traced run: its
    * per-layer metrics, the files offered (each an operation), the failed
    * ones, and what was wrong.
    */
  final case class Result(layers: Map[String, Double], files: Int, failed: Int,
      problems: Seq[String])

  /** Generate under `base`, warm up on a query of its own, run the
    * measured query, write its spans to `traceDir`, and check its state.
    */
  def run(ctx: Ctx, base: String, seconds: Double, runId: String,
      traceDir: String): Result = {
    val files = filesFor(seconds)
    val dir = s"$base/in"
    generate(ctx, dir, s"$base/warm", files)
    val hash = inputHash(ctx, dir)
    val warm = new Trace(ctx.spark, true, s"$runId-stream-warm")
    try stream(ctx, s"$base/warm", s"$base/warm-out", warmFiles, warm, prefilled = false)
    finally warm.close()
    val pass = new Pass(s"$base/pass", new Trace(ctx.spark, true, s"$runId-stream"))
    val problems = Seq.newBuilder[String]
    try measure(ctx, dir, pass, files)
    catch {
      case NonFatal(e) =>
        pass.failed = files
        problems += s"${e.getClass.getName}: ${e.getMessage}"
    }
    pass.trace.close()
    System.err.println(f"[perfbench] stream: $files files, input $hash, " +
      f"busy ${pass.values.getOrElse("busy_s", 0.0)}%.2f s")
    val layers = if (pass.failed == files) Map.empty[String, Double] else this.layers(pass)
    pass.trace.write(java.nio.file.Paths.get(traceDir, s"$runId-stream.jsonl"))
    val wrong = if (pass.failed == files) Nil else verify(ctx, dir, pass, files)
    problems ++= wrong
    Result(layers, files, pass.failed + (if (wrong.nonEmpty) 1 else 0), problems.result())
  }

  private def measure(ctx: Ctx, dir: String, pass: Pass, files: Int): Unit = {
    pass.ops = files
    val (due, actual, batches, pre) =
      stream(ctx, dir, pass.out, files, pass.trace)
    pass.values("catchup_per_s") =
      pre.map(_.numInputRows).sum * 1000.0 / pre.map(_.durationMs).sum
    pass.values("prefill_batches") = pre.size.toDouble
    val commit = Stats.commitOfFiles(rowsPerFile, files, batches)
    for (i <- 0 until files)
      if (commit(i) < 0) pass.failed += 1
      else pass.add("freshness_ms", (commit(i) - due(i)).toDouble)
    val nonEmpty = batches.filter(_.numInputRows > 0)
    pass.values("busy_s") = nonEmpty.map(_.durationMs).sum / 1000.0
    pass.values("late_ms_max") = due.indices.map(i => actual(i) - due(i)).max.toDouble
    pass.values("backlog_files_max") =
      Stats.backlogMax(rowsPerFile, actual.toSeq, batches).toDouble
    pass.values("batches") = batches.size.toDouble
    pass.values("empty_batch_frac") =
      (batches.size - nonEmpty.size).toDouble / math.max(1, batches.size)
  }

  /** The state sink must equal the reference fold of every dropped change. */
  private def verify(ctx: Ctx, dir: String, pass: Pass, files: Int): Seq[String] = {
    val seed = ctx.seed
    val c = spec(files)
    val n = prefillRows + rowsPerFile.toLong * files
    val expected = RefFold.fold(0L, n, i => c.key(seed, i), i => c.action(seed, i))
    val rows = CdcStream.readState(ctx.spark, s"${pass.out}/state")
      .select("table", "rid", "cdc_action", "cdc_ts", "seq", "value", "props")
      .collect()
    val bad = Seq.newBuilder[String]
    if (rows.length != expected.size)
      bad += s"state has ${rows.length} rows, reference has ${expected.size}"
    var shown = 0
    for (r <- rows) {
      val k = r.getString(1).toLong
      val ok = expected.get(k).exists { e =>
        val i = e.last
        r.getString(0) == "db_test.events" && r.getString(2) == e.action &&
          r.getLong(3) == c.cdcTs(i) && r.getLong(4) == i + 1 &&
          r.getDouble(5) == c.value(seed, i) && r.getString(6) == c.props(seed, i)
      }
      if (!ok && shown < 5) { bad += s"state mismatch for rid $k: $r"; shown += 1 }
    }
    bad.result()
  }

  private def layers(pass: Pass): Map[String, Double] = {
    val tr = pass.trace
    val c = tr.total("CdcStream.run")
    val ps = tr.progress.asScala.toSeq.sortBy(_.batchId)
      .drop(pass.values("prefill_batches").toInt)
    def phase(k: String, p: Double): Double = {
      val xs = ps.filter(_.numInputRows > 0).flatMap(x =>
        Option(x.durationMs.get(k)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    }
    val commits = ps.filter(_.numInputRows > 0)
      .flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))
    val last = ps.lastOption
    val fresh = pass.all("freshness_ms")
    // the name carries the percentile the sample supports: p95 from 200
    // files on
    val tail = Stats.tailPercentile(fresh.size, Seq(95, 90, 75)).getOrElse(50.0)
    val sink = Files.dataFiles(s"${pass.out}/state", ".parquet")
    val r = "CdcStream.run"
    Map(
      s"$r.wall_s" -> pass.values("busy_s"),
      s"$r.plan_s" -> c.planMs / 1000,
      s"$r.task_s" -> c.taskMs / 1000.0,
      s"$r.batches" -> pass.values("batches"),
      s"$r.empty_batch_frac" -> pass.values("empty_batch_frac"),
      s"$r.batch_ms_p50" -> phase("triggerExecution", 50),
      s"$r.latestOffset_ms_p50" -> phase("latestOffset", 50),
      s"$r.queryPlanning_ms_p50" -> phase("queryPlanning", 50),
      s"$r.walCommit_ms_p50" -> phase("walCommit", 50),
      s"$r.commitOffsets_ms_p50" -> phase("commitOffsets", 50),
      s"$r.addBatch_ms_p95" -> phase("addBatch", 95),
      s"$r.state_commit_ms_p95" ->
        (if (commits.isEmpty) 0.0 else Stats.percentile(commits, 95)),
      s"$r.state_rows_end" ->
        last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      s"$r.state_mem_bytes_end" ->
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      s"$r.sink_bytes_written" -> c.bytesWritten.toDouble,
      s"$r.sink_files_end" -> sink.size.toDouble,
      s"$r.backlog_files_max" -> pass.values("backlog_files_max"),
      s"$r.freshness_p50_ms" -> Stats.median(fresh),
      s"$r.freshness_${Stats.pname(tail)}_ms" -> Stats.percentile(fresh, tail),
      s"$r.catchup_per_s" -> pass.values("catchup_per_s"),
      "gen.late_ms_max" -> pass.values("late_ms_max"))
  }
}
