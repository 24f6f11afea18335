package perfbench

import graft.Materialize
import graft.sources.Lake
import scala.collection.mutable

/** `lake_cycle`: writes beside reads on one standing versioned lake. Set-up
  * publishes a keyed base partitioned by a key-derived column with
  * digests. One operation is one generation: merge a ~1% Zipf-skewed CDC
  * delta (`Lake.mergeDelta`), read that generation's change feed
  * (`Lake.changesBetween`), release pinned blocks, and every
  * `maintainEvery`-th generation compact the current generation and
  * vacuum.
  */
object LakeCycle extends Workload {
  val name = "lake_cycle"

  // the 1 % delta, the 8 partitions and the ~1 % hottest key are the
  // reference scenario's; the 20 % new keys and 20 % deletes are the
  // events fixture's insert and delete shares (testdata sf0.1); the
  // 100 000-row base is sized so a generation takes about a second on
  // four cores
  val spec = Gen.LakeSpec(nBase = 100000, parts = 8, gens = 48,
    deltaRows = 1000, pNew = 0.2, pDelete = 0.2, zipfS = 0.7)
  val maintainEvery = 4
  val maxRecordsPerFile = 1000000L

  private def lake(dir: String) = s"$dir/lake"
  private def delta(dir: String, g: Int) = s"$dir/deltas/g=$g"

  def generate(ctx: Ctx, dir: String): Unit = {
    Gen.writeLakeDeltas(ctx.spark, spec, ctx.seed, s"$dir/deltas", ctx.cores)
    Gen.lakeBase(ctx.spark, spec, ctx.seed, ctx.cores).write.parquet(s"$dir/base")
  }

  /** The base publish every lake starts from. */
  override def prepare(ctx: Ctx, dir: String): Unit =
    Lake.publishVersion(ctx.spark.read.parquet(s"$dir/base"), lake(dir),
      Seq("part"), Seq("id"), maxRecordsPerFile, digest = true)

  def inputHash(ctx: Ctx, dir: String): String = Gen.combine(Seq(
    Gen.tableHash(ctx.spark.read.parquet(s"$dir/base")),
    Gen.tableHash(ctx.spark.read.parquet(s"$dir/deltas"))))

  // every pass mutates its lake, so each starts from its own set-up copy
  override def repFor(p: Int): Int = p match {
    case 1 => 1
    case 2 => 2
    case _ => 0
  }

  /** One applied generation: its version and feed rows (v, id, change,
    * new_hash).
    */
  private final case class Gen_(v: Long, feed: Seq[(Long, Long, String, String)])

  private def generation(ctx: Ctx, dir: String, g: Int, pass: Pass,
      maintain: Boolean): Unit = {
    val spark = ctx.spark
    val tr = pass.trace
    val root = lake(dir)
    val (v, tm) = Clock.timed(tr.span("Lake.mergeDelta") {
      Lake.mergeDelta(spark.read.parquet(delta(dir, g)), root, Seq("id"),
        Seq("part"), Seq("id"), maxRecordsPerFile, seqCol = Some("seq"),
        digest = true)
    })
    pass.add("merge_s", tm)
    pass.add("delta_bytes", Files.dataFiles(delta(dir, g), ".parquet").map(_._2).sum.toDouble)
    val (rows, tf) = Clock.timed(tr.span("Lake.changesBetween") {
      Lake.changesBetween(spark, root, v - 1, v, "id", "body")
        .select("v", "id", "change", "new_hash").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    })
    pass.add("feed_s", tf)
    pass.add("feed_rows", rows.size.toDouble)
    pass.outputs += Gen_(v, rows)
    Materialize.release(spark)
    if (tr.enabled) {
      val own = Files.dataFiles(s"$root/v=$v", ".parquet")
      pass.add("files_written", own.size.toDouble)
      pass.add("partitions_touched",
        own.map(f => new java.io.File(f._1).getParent).distinct.size.toDouble)
    }
    if (maintain) {
      val rep = tr.span("Lake.compact") {
        Lake.guarded(spark, root) {
          Lake.compact(spark, s"$root/v=$v", Seq("part"), Seq("id"),
            targetBytes = 64L * 1024 * 1024).collect()
        }
      }
      pass.add("compact_bytes_rewritten", rep.filter(_.getAs[String]("action") == "compacted")
        .map(_.getAs[Long]("bytes_after")).sum.toDouble)
      val vac = tr.span("Lake.vacuum") { Lake.vacuum(spark, root, keep = 3).collect() }
      pass.add("vacuum_files_deleted", vac.filter(_.getAs[String]("action") != "retained")
        .map(_.getAs[Long]("n_files")).sum.toDouble)
    }
  }

  def warmup(ctx: Ctx, dir: String, pass: Pass): Unit =
    for (g <- 1 to 2) generation(ctx, dir, g, pass, maintain = g == 2)

  // one generation per second of window (a generation takes 1.5-2 s on
  // four cores): eight at 8 s give the feed-read median enough samples
  def opsFor(seconds: Double): Int =
    math.min(spec.gens, math.max(1, math.round(seconds).toInt))

  /** Generation `i`. Traced, the bytes it wrote under the root (files
    * are immutable, so new paths are new bytes) and the lake's size
    * against its current version's are recorded after it.
    */
  def op(ctx: Ctx, dir: String, pass: Pass, i: Int): Unit = {
    val root = lake(dir)
    val tr = pass.trace
    val before = if (tr.enabled) Files.walk(root).toMap else Map.empty[String, Long]
    pass.add("cycle_s", Clock.timed(
      generation(ctx, dir, i, pass, i % maintainEvery == 0))._2)
    if (tr.enabled) {
      val now = Files.walk(root)
      pass.add("written_bytes", now.filterNot(f => before.contains(f._1)).map(_._2).sum.toDouble)
      val live = Lake.readVersion(ctx.spark, root).inputFiles
        .map(f => new java.io.File(new java.net.URI(f)).length()).sum
      pass.values("space_amp") = now.map(_._2).sum / math.max(1.0, live.toDouble)
    }
  }

  /** The latest version must equal the reference fold of base + every
    * applied delta, and each generation's feed must name exactly the keys
    * that generation added, removed or changed.
    */
  def verify(ctx: Ctx, dir: String, pass: Pass): Seq[Seq[String]] = {
    val seed = ctx.seed
    val l = spec
    val st = mutable.HashMap.empty[Long, RefFold.Net]
    for (id <- 0L until l.nBase) st(id) = RefFold.Net("insert", -1L)
    def body(id: Long, n: RefFold.Net): String = l.text(seed, id, n.last + 1)
    def live(n: RefFold.Net) = n.action == "insert" || n.action == "update"
    val gens = pass.outputs.collect { case x: Gen_ => x }
    val perGen = for ((Gen_(v, feed), g) <- gens.zip(1 to gens.size)) yield {
      val bad = Seq.newBuilder[String]
      val keys = (l.change(g, 0) until l.change(g + 1, 0))
        .map(l.changeKey(seed, _)).distinct
      val before = keys.flatMap(k => st.get(k).map(k -> _)).toMap
      RefFold.fold(l.change(g, 0), l.change(g + 1, 0),
        c => l.changeKey(seed, c), c => l.changeAction(seed, c), st)
      val expected = keys.flatMap { k =>
        val b = before.get(k).filter(live).map(body(k, _))
        val a = st.get(k).filter(live).map(body(k, _))
        (b, a) match {
          case (None, Some(x)) => Some((k, "added", md5(x)))
          case (Some(_), None) => Some((k, "removed", null))
          case (Some(x), Some(y)) if x != y => Some((k, "changed", md5(y)))
          case _ => None
        }
      }.toSet
      val got = feed.map { case (fv, id, ch, h) => (id, ch, h) }.toSet
      if (feed.exists(_._1 != v)) bad += s"feed of v=$v carries other versions"
      if (got != expected)
        bad += s"feed of v=$v: ${(got -- expected).take(3)} unexpected, " +
          s"${(expected -- got).take(3)} missing"
      bad.result()
    }
    // the latest version is the last generation's output
    val bad = Seq.newBuilder[String]
    val rows = Lake.readVersion(ctx.spark, lake(dir))
      .select("id", "part", "body", "n").collect()
    val want = st.filter { case (_, n) => live(n) }
    if (rows.length != want.size)
      bad += s"latest version has ${rows.length} rows, reference has ${want.size}"
    var shown = 0
    for (r <- rows) {
      val id = r.getLong(0)
      val ok = want.get(id).exists { n =>
        r.getInt(1) == l.part(seed, id) && r.getString(2) == body(id, n) &&
          r.getLong(3) == n.last + 1
      }
      if (!ok && shown < 5) { bad += s"row mismatch for id $id: $r"; shown += 1 }
    }
    if (perGen.isEmpty) Nil else perGen.init.toSeq :+ (perGen.last ++ bad.result())
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  def endToEnd(pass: Pass, scale: Double): Map[String, Double] = Map(
    "throughput_per_s" -> spec.deltaRows / (pass.mean("merge_s") * scale),
    "latency_p50_ms" -> pass.med("feed_s") * scale * 1000)

  def layers(pass: Pass): Map[String, Double] = {
    val tr = pass.trace
    def per(n: String, c: Counters => Double): Double =
      c(tr.total(n)) / math.max(1, tr.named(n).size)
    def wall(n: String) = {
      val xs = tr.named(n).map(_.wallS)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val md = "Lake.mergeDelta"; val cb = "Lake.changesBetween"
    Map(
      s"$md.wall_s_p50" -> wall(md),
      s"$md.plan_s" -> per(md, _.planMs / 1000),
      s"$md.tasks" -> per(md, _.tasks.toDouble),
      s"$md.task_s" -> per(md, _.taskMs / 1000.0),
      s"$md.files_written" -> pass.med("files_written"),
      s"$md.bytes_written" -> per(md, _.bytesWritten.toDouble),
      s"$md.partitions_touched" -> pass.med("partitions_touched"),
      s"$cb.wall_s_p50" -> wall(cb),
      s"$cb.plan_s" -> per(cb, _.planMs / 1000),
      s"$cb.rows" -> pass.med("feed_rows"),
      s"$cb.bytes_read" -> per(cb, _.bytesRead.toDouble),
      "Lake.compact.wall_s" -> wall("Lake.compact"),
      "Lake.compact.bytes_rewritten" -> pass.med("compact_bytes_rewritten"),
      "Lake.vacuum.wall_s" -> wall("Lake.vacuum"),
      "Lake.vacuum.files_deleted" -> pass.med("vacuum_files_deleted"),
      "lake.write_amp" -> pass.sum("written_bytes") / math.max(1.0, pass.sum("delta_bytes")),
      "lake.space_amp" -> pass.values("space_amp"))
  }
}
