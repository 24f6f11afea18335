package perfbench

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <scratch dir>`.
  *
  * Set-up (session start, input generation, three repetitions of the
  * program's own set-up on copies of the inputs, warm-up operations) is
  * timed apart from the window. The untraced pass gives the end-to-end
  * metrics; with `--trace 1` a traced pass of the same operation count
  * follows; `cdc_replay`'s traced run then measures the streaming layer
  * and `lake_cycle`'s the curation operators (`curate_dedup`); last, one
  * traced operation of the workload with a single-thread baseline runs
  * on a `local[1]` session. Both passes run a [[Calibration]] before and
  * after every operation. Prints a provenance line and, last, the result
  * line (metric values by name; the caller attaches the units declared
  * in BENCHMARK.json); exits 1 when an output is wrong.
  */
object Main {
  val workloads: Map[String, Workload] =
    Seq(Replay, LakeCycle, Curate).map(w => w.name -> w).toMap

  val SetupReps = 3
  val CalibWarmups = 3

  def session(cores: Int, root: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("selftest").contains("1")) sys.exit(SelfTest.run())
    val w = workloads.getOrElse(a("workload"), {
      System.err.println(s"unknown workload ${a("workload")}; one of " +
        workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val root = a("root")
    val traceDir = a.getOrElse("trace-dir", s"$root/traces")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val runId = s"${w.name}-$seed-${System.currentTimeMillis()}"
    def dir(r: Int) = s"$root/in$r"

    val (spark, sessionS) = Clock.timed(session(cores, root))
    val ctx = Ctx(spark, seed, cores)
    // the calibration kernel's own warm-up: benchmark machinery, not the
    // program's set-up, so outside setup_s
    for (_ <- 1 to CalibWarmups) Calibration.run(cores)

    val setupCalib = collection.mutable.ArrayBuffer.empty[Double]
    /** Generate into `base`/in0, copy to in1.., run the program's set-up
      * in each, warm up; returns (generate s, set-up s per copy, warm-up
      * s). Calibrations between the steps, outside their times, give the
      * set-up its own reference speed.
      */
    def setUp(x: Workload, base: String): (Double, Seq[Double], Double) = {
      setupCalib += Calibration.run(cores)
      val (_, genS) = Clock.timed(x.generate(ctx, s"$base/in0"))
      setupCalib += Calibration.run(cores)
      for (r <- 1 until SetupReps) Files.copyTree(s"$base/in0", s"$base/in$r")
      val prepS = (0 until SetupReps).map(r => Clock.timed(x.prepare(ctx, s"$base/in$r"))._2)
      setupCalib += Calibration.run(cores)
      val warm = new Pass(s"$base/warm", new Trace(spark, false, runId))
      val (_, warmS) = Clock.timed(x.warmup(ctx, s"$base/in${x.repFor(0)}", warm))
      setupCalib += Calibration.run(cores)
      log(f"setup ${x.name}: session $sessionS%.2f s, generate $genS%.2f s, prepare " +
        f"${prepS.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s, " +
        s"input ${x.inputHash(ctx, s"$base/in0")}")
      (genS, prepS, warmS)
    }
    val (genS, prepS, warmS) = setUp(w, root)
    val hash = w.inputHash(ctx, dir(0))
    val setupRawS = sessionS + genS + Stats.median(prepS) + warmS
    val setupScale = Calibration.RefS / Stats.median(setupCalib.toSeq)

    /** `n` operations, each bracketed by calibrations. Each operation
      * and calibration starts on a collected heap, so the garbage of the
      * one before does not land in its time.
      */
    def measure(p: Pass, x: Workload, c: Ctx, d: String, n: Int, calib: Boolean): Unit = {
      def calibrate(): Unit = if (calib) {
        System.gc()
        p.add("calib_s", Calibration.run(c.cores))
      }
      while (p.ops < n && p.error.isEmpty) {
        calibrate()
        System.gc()
        p.ops += 1
        try p.add("op_s", Clock.timed(x.op(c, d, p, p.ops))._2)
        catch { case NonFatal(e) => p.failed += 1; p.error = Some(e) }
      }
      calibrate()
    }

    val bad = Seq.newBuilder[String]
    /** Checks every completed operation of a pass; returns the failed
      * operations: those that threw and those with a wrong output.
      */
    def check(p: Pass, x: Workload, d: String, label: String): Int = {
      p.trace.close()
      p.error.foreach(e => bad += s"$label op ${p.ops}: ${e.getClass.getName}: ${e.getMessage}")
      val perOp = x.verify(ctx, d, p)
      for ((b, i) <- perOp.zipWithIndex; x <- b) bad += s"$label op ${i + 1}: $x"
      p.failed + perOp.count(_.nonEmpty)
    }

    val p1 = new Pass(s"$root/pass1", new Trace(spark, false, runId))
    measure(p1, w, ctx, dir(w.repFor(1)), w.opsFor(seconds), calib = true)
    // times are reported at the calibration's reference speed
    val calibS = p1.med("calib_s")
    val scale = Calibration.RefS / calibS
    log(f"untraced: ${p1.ops} ops, busy ${p1.busyS}%.2f s, scale $scale%.3f; " + p1.samples
      .filter(_._1.endsWith("_s")).map { case (k, v) => k + v.map(x => f"$x%.3f")
        .mkString("=", "/", "") }.mkString(" "))
    var attempted = p1.ops
    var failed = check(p1, w, dir(w.repFor(1)), "untraced")

    val metrics: Map[String, Double] =
      if (!traced) w.endToEnd(p1, scale) + ("setup_s" -> setupRawS * setupScale)
      else {
        /** A traced pass of `n` operations of `x` on its set-up copy under
          * `base`; its spans are written and its outputs checked.
          */
        def tracedPass(x: Workload, base: String, n: Int, calib: Boolean): Pass = {
          val p = new Pass(s"$base/pass2", new Trace(spark, true, s"$runId-${x.name}"))
          measure(p, x, ctx, s"$base/in${x.repFor(2)}", n, calib)
          p.trace.drain()
          log(f"traced ${x.name}: ${p.ops} ops, busy ${p.busyS}%.2f s")
          attempted += p.ops
          p.trace.write(java.nio.file.Paths.get(traceDir, s"$runId-${x.name}.jsonl"))
          failed += check(p, x, s"$base/in${x.repFor(2)}", s"traced ${x.name}")
          p
        }
        val gc0 = gcSeconds()
        // calibrated like the untraced pass, so their operation times
        // compare; half as many operations keep the traced run short
        val p2 = tracedPass(w, root, math.max(2, p1.ops / 2), calib = true)
        val gcS = gcSeconds() - gc0
        // the streaming layer and the curation operators vary too much
        // between runs on four cores for an end-to-end bound; their layers
        // are measured in these two workloads' traced runs
        val stream = if (w ne Replay) Map.empty[String, Double] else {
          val r = StreamRun.run(ctx, s"$root/stream", seconds, runId, traceDir)
          attempted += r.files
          failed += r.failed
          bad ++= r.problems.map("stream: " + _)
          r.layers
        }
        val (scaled, scaledBase, scaledPass) =
          if (w ne LakeCycle) (w, root, p2)
          else {
            val base = s"$root/curate"
            setUp(Curate, base)
            (Curate, base, tracedPass(Curate, base, Curate.opsFor(seconds), calib = false))
          }
        val scaling = if (scaled.scalingLayers.isEmpty) Map.empty[String, Double] else {
          spark.stop()
          val s1 = session(1, root)
          val p3 = new Pass(s"$scaledBase/pass3", new Trace(s1, true, runId + "-local1"))
          measure(p3, scaled, Ctx(s1, seed, 1), s"$scaledBase/in${scaled.repFor(3)}", 1,
            calib = false)
          p3.trace.drain()
          attempted += p3.ops
          failed += p3.failed
          p3.error.foreach(e => bad += s"local[1] op: ${e.getMessage}")
          p3.trace.close()
          scaled.scalingLayers.map { l =>
            val n = Stats.median(scaledPass.trace.named(l).map(_.wallS))
            val one = Stats.median(p3.trace.named(l).map(_.wallS))
            s"$l.scaling" -> one / n
          }.toMap
        }
        w.layers(p2) ++ (if (scaled ne w) scaled.layers(scaledPass) else Map.empty) ++
          stream ++ scaling ++ Map(
          "jvm.gc_s" -> gcS,
          "spark.session_s" -> sessionS,
          // per operation: traced minus untraced mean operation time
          "trace.overhead_s" -> (p2.mean("op_s") - p1.mean("op_s")),
          "trace.overhead_frac" -> (p2.mean("op_s") / p1.mean("op_s") - 1))
      }

    val problems = bad.result()
    problems.take(20).foreach(p => log(s"WRONG: $p"))
    val correct = problems.isEmpty && failed == 0
    if (!correct && failed == 0) failed = 1

    val prov = Seq(
      "workload" -> q(w.name), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> q(spark.version), "jdk" -> q(System.getProperty("java.version")),
      "input_hash" -> q(hash),
      "git_sha" -> q(a.getOrElse("git-sha", "unknown")),
      "source_sha256" -> q(a.getOrElse("source-sha", "unknown")),
      "session_s" -> sessionS.toString, "generate_s" -> genS.toString,
      "prepare_s" -> prepS.mkString("[", ",", "]"), "warmup_s" -> warmS.toString,
      "setup_raw_s" -> setupRawS.toString, "calib_p50_s" -> calibS.toString,
      "setup_calib_p50_s" -> Stats.median(setupCalib.toSeq).toString,
      "calib_ref_s" -> Calibration.RefS.toString, "ops" -> p1.ops.toString)
    println("PERFBENCH_PROVENANCE " + prov.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}"))
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}"""
    }
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}""")
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (correct) 0 else 1)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}
