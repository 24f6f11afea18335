package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-of-magnitude scale smoke: derive an N× corpus from sf0.1
  * (SPARK_GRAFT_SCALE_REPS, default 10; 100 gives the two-orders
  * datapoint) and time the heaviest battery queries at both scales in
  * ONE session, with per-query shuffle-write volume — the datapoint
  * that backs the "survives 100×" plan-audit claims with a measurement
  * instead of an argument. Run: `sbt "runMain graft.ScaleSmoke"`
  * (SPARK_GRAFT_CPUS=32 for the bench shape; optional query-name
  * args).
  *
  * The derivation replicates sf0.1 `nReps` times (SPARK_GRAFT_SCALE_REPS;
  * default 10, 100 supported) with collision-free keys
  * and REPLICA-DISJOINT content: documents prefix every token with a
  * replica tag (shingle/gram spaces stay disjoint, so the near-dup pair
  * space grows linearly — replicating text verbatim would synthesize an
  * all-pairs dup explosion no real corpus has), and embeddings rotate +
  * perturb dimensions per replica (cross-replica cosines stay generic).
  * Events shift ids so per-user/per-key cardinalities stay constant and
  * the state row count scales linearly. The derived dir is layout-parity
  * with the fixtures (one flat `<table>.parquet` file each).
  */
object ScaleSmoke {

  /** One wall-clock wrapper for every smoke leg — a timing tweak (e.g.
    * min-of-passes) must land in exactly one place.
    */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The top queries by r8/r9 bench cost, one per heavy family: LSH
    * dedup, ANN search, gram explosion, streaming state sink, composed
    * capstone — plus the two that lead the battery after round 9's
    * amortization (char-bigram LM scoring and containment dedup, both
    * corpus-shuffle-bound), so every remaining top-cost query has a
    * measured 10× datapoint, not just a plan argument.
    */
  private val Targets = Seq(
    "dedup_minhash_lsh", "sim_ivfpq", "text_dup_ngrams",
    "cdc_state_sink", "curate_pipeline", "text_lm_score",
    "dedup_containment",
    // iterative-graph and streaming-state families one order up: CC
    // round count grows log-slowly and keyed stream state stays bounded
    "dedup_clusters", "sim_stream_neardup",
    // CDC core at 10× events: the one-shuffle compact and the
    // flatMapGroupsWithState sessionizer (per-user cardinality constant
    // in the derived corpus, so state rows scale linearly)
    "cdc_compact", "cdc_stream_sessions",
    // the near-dup pair generators with the cell count SCALED to the
    // corpus (see Variants) — the production configuration of the same
    // operators the fixed-C gate rows measure
    "sim_stream_neardup@scaledC", "sim_neardup@scaledC",
    "sim_cent@scaledC", "sim_neardup@scaledC2",
    // composed hier×multi×stream geometry — the production recall knob
    // on the production assignment path; the r11 table pinned hier
    // single-probe at 100× and mp@scaledC at 10×, this row closes the
    // composition at the same scales
    "sim_stream_neardup@scaledCmp",
    // r13 stream-stream interval join: derived users are rep-disjoint, so
    // pairs and state both scale linearly — the row pins that the
    // watermark-bounded join state machinery does too
    "events_stream_join",
    // r13 transformWithState burst detector: rep-disjoint users make
    // alerts and state both linear; the row pins that the typed-state
    // fold (RocksDB column families) scales with them
    "events_burst_alerts",
    // r13 streaming as-of: interval-join state + latest-per-key over the
    // O(matches) ledger — the row pins that the batch reduction stays
    // proportional to matches, not events
    "events_stream_asof",
    // r13 streaming top-k: append windowed count + batch rank over the
    // drained aggregate — its parts were measured separately through r13;
    // this row pins the COMPOSITION (state ≈ open windows, rank input ≈
    // closed windows × users, both linear in the derived corpus)
    "events_stream_topk")

  /** Smoke-only variants: the gate queries pin the IVF cell count at
    * C = 16 because the ORACLE's pair-set semantics depend on it, which
    * makes the in-cell candidate space Σ n_c² ≈ n²/C — quadratic at
    * fixed C, and the fixed-C smoke rows above measure exactly that
    * (sim_stream_neardup shuffle grows ~n² at 10× data). The operator
    * itself is linear when the hyperparameter tracks the corpus — the
    * production tuning keeps cell OCCUPANCY constant (C ∝ n), so
    * per-arrival comparisons are O(occupancy) and total work O(n).
    * These variants measure that configuration: C = max(16, n/312)
    * reproduces the gate geometry at sf0.1 (5 000/312 → 16) and scales
    * it at sf1 (→ 160). Results differ from the fixed-C rows by design
    * (different cells ⇒ different candidate pairs); they are throughput
    * datapoints, not gate queries.
    */
  private val Variants
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_stream_neardup@scaledC" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val c = graft.operators.Similarity.autoCells(e)
      // sample-trained quantizer (the sim_cent@scaledC row measured flat
      // training quadratic in n at C ∝ n); per-arrival assignment goes
      // through cellRows' two-hop fold (O(batch·√C))
      // once C ≥ 128 — the flat O(batch·C) fold at C ∝ n was the last
      // family member carrying the quadratic
      graft.streaming.StreamSim.nearDupStreamed(s, dir,
        Some(graft.operators.Similarity.kmeansCentroids(
          graft.operators.Similarity.trainSample(e, c), c, 2)))
    }),
    "sim_stream_neardup@scaledCmp" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val c = graft.operators.Similarity.autoCells(e)
      graft.streaming.StreamSim.nearDupStreamed(s, dir,
        Some(graft.operators.Similarity.kmeansCentroids(
          graft.operators.Similarity.trainSample(e, c), c, 2)),
        probes = 2)
    }),
    "sim_neardup@scaledC" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.nearDupPairs(e,
        graft.operators.Similarity.autoCells(e), 0.4)
    }),
    // (the scaledC2 variant counts once and feeds both autoCells and the
    // training sampler — no redundant full scans)
    // train-only split of the scaled-C row: times autoCells + the flat
    // Lloyd's train (two O(n·C) assignment passes) so a superlinear
    // @scaledC ratio can be attributed to training vs candidate work
    "sim_cent@scaledC" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.kmeansCentroids(e,
        graft.operators.Similarity.autoCells(e), 2)
    }),
    // the production answer to the quadratic term the row above exposed:
    // sample-trained quantizer (O(c²)) + two-level hierarchical final
    // assignment (O(n·√C)) — same candidate/verify stages
    "sim_neardup@scaledC2" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val n = e.count()
      graft.operators.Similarity.nearDupPairsScaled(e,
        graft.operators.Similarity.autoCellsFor(n), 0.4, nRows = n)
    }))

  /** Width-scaling targets — the dims twin of the row smoke. The row
    * datapoints scale n at fixed d = 64; these scale d at fixed n
    * (row-replicated 10×, then widened to SPARK_GRAFT_DIMS, default 256)
    * for the three embedding-path heads the architecture claims scale in
    * width: the row-shaped moment pass (work ∝ d² BY DEFINITION — d(d+1)/2
    * moments — so the pass is honest iff time tracks ~ (W/64)² with a
    * CONSTANT-size plan), brute-force cosine top-k, and IVF-PQ train +
    * probe (both ∝ d). Expected ratios at 256 dims: ~16× moments, ~4×
    * the other two; materially above that is a width-scaling bug.
    */
  private val DimsTargets =
    Seq("emb_moments@dims", "sim_topk@dims", "sim_ivfpq@dims")

  /** The derived dims corpora are single ~15 MB parquet files — ONE input
    * split under default maxPartitionBytes, which serializes the whole
    * 33 000×-amplifying moment explode onto one core (measured: the first
    * un-repartitioned run ground single-threaded for 10+ min). That is the
    * narrow-input/wide-work hazard in miniature: partition count must
    * track AMPLIFIED work, not input bytes. Production at 100 TB gets
    * splits for free; a small-but-explosive input needs an explicit
    * repartition (or a lower maxPartitionBytes) — so the variants
    * repartition the scan to the session's parallelism and measure the
    * OPERATOR, not the file-split accident.
    */
  private def embPar(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  private val DimsVariants
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_moments@dims" -> ((s, dir) => {
      val e = embPar(s, dir)
      val d = s.read.parquet(s"$dir/embeddings.parquet")
        .select(size(col("embedding"))).head().getInt(0)
      graft.operators.SimilarityQueries.momentSums(e, d)
    }),
    "sim_topk@dims" -> ((s, dir) =>
      graft.operators.Similarity.topK(embPar(s, dir), col("vec_id") < 8, 10)),
    // TrainedCache per dims corpus: pass 1 carries train + probe, pass 2
    // is probe-only — one row reports both cost models in `passes`, and
    // the min-based ratio compares steady-state probe width-scaling
    // (retraining every pass drowned the width term in the ~60 small
    // training stages: both widths measured ~12 s flat)
    "sim_ivfpq@dims" -> ((s, dir) => {
      import graft.operators.{Similarity, TrainedCache}
      val e = embPar(s, dir)
      val key = s.sparkContext.applicationId + "|" +
        TrainedCache.fingerprint(s"$dir/embeddings.parquet") + "|dims"
      val cent = TrainedCache.memoDf(s, key + "|cent", name = "dims_cent") {
        Similarity.kmeansCentroids(e, 16, 2)
      }
      val cb = TrainedCache.memoDf(s, key + "|cb", name = "dims_cb") {
        Similarity.ivfPqCodebook(e, cent, 16, 256)
      }
      Similarity.ivfPqTopK(e, 16, 16, 256, col("vec_id") < 8, 5,
        centOpt = Some(cent), cbOpt = Some(cb))
    }))

  /** Derive the two dims corpora: `out64` = sf0.1 embeddings row-replicated
    * `rowReps`× at native 64 dims (the constant-rows baseline), `outW` =
    * the same rows widened to `widthFactor`× dims by concatenating rotated
    * + per-copy-perturbed copies (rotation keeps PQ subspaces and k-means
    * cells non-degenerate across copies). The widening reads the WRITTEN
    * 64-dim corpus so the copied array is a scan attribute, not an inline
    * computed subtree (the HOF re-evaluation hazard — see
    * TextAnalysis.explodedWordGrams).
    */
  private def deriveDims(spark: SparkSession, base: String, out64: String,
      outW: String, widthFactor: Int, rowReps: Int): Unit = {
    require(widthFactor >= 2, s"widthFactor $widthFactor must be >= 2 " +
      "(the widening concatenates whole rotated base-width copies)")
    if (!new java.io.File(s"$out64/embeddings.parquet").exists()) {
      new java.io.File(out64).mkdirs()
      writeFlat(replicateEmbeddings(spark, base, rowReps),
        out64, "embeddings.parquet")
    }
    if (!new java.io.File(s"$outW/embeddings.parquet").exists()) {
      new java.io.File(outW).mkdirs()
      val e64 = spark.read.parquet(s"$out64/embeddings.parquet")
      val d = size(col("embedding"))
      writeFlat(e64.select(col("vec_id"),
        flatten(transform(sequence(lit(0), lit(widthFactor - 1)), j => {
          val rj = pmod(j * 17, d)
          transform(
            concat(slice(col("embedding"), rj + lit(1), d - rj),
              slice(col("embedding"), lit(1), rj)),
            (x, i) => (x + ((pmod(j * 13 + i, lit(7)) - lit(3))
              .cast("float") * lit(0.003f))).cast("float"))
        })).as("embedding"),
        col("label")), outW, "embeddings.parquet")
    }
  }

  private def writeFlat(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/$name"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Derive the `nReps`× corpus from `base` into `out` (only the tables
    * the target queries read). Deterministic — no Date/random anywhere.
    * `nReps` = 10 is the standard smoke; SPARK_GRAFT_SCALE_REPS=100 gives
    * the two-orders datapoint (still comfortably in local[32] range:
    * ~220 M chars / 500 k docs / 10 M events derived from sf0.1).
    */
  /** Row-replicate an embeddings table `nReps`× with collision-free ids
    * and per-replica rotation + perturbation (cross-replica cosines stay
    * generic) — shared by the row smoke's derive() and the width smoke's
    * 64-dim baseline so both measure the SAME corpus derivation.
    */
  private def replicateEmbeddings(spark: SparkSession, base: String,
      nReps: Int): DataFrame = {
    val reps = broadcast(spark.range(nReps).select(col("id").as("rep")))
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val d = size(col("embedding"))
    val rot = pmod(col("rep"), d)
    emb.crossJoin(reps).select(
      (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
      transform(
        concat(slice(col("embedding"), rot + lit(1), d - rot),
          slice(col("embedding"), lit(1), rot)),
        (x, i) => (x + ((pmod(col("rep") * 7 + i, lit(5)) - lit(2))
          .cast("float") * lit(0.001f))).cast("float")).as("embedding"),
      col("label"))
  }

  private def derive(spark: SparkSession, base: String, out: String,
      nReps: Int): Unit = {
    new java.io.File(out).mkdirs()
    val reps = broadcast(spark.range(nReps).select(col("id").as("rep")))

    val docs = spark.read.parquet(s"$base/documents.parquet")
    writeFlat(docs.crossJoin(reps).select(
      (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
      when(col("rep") === 0, col("text")).otherwise(concat_ws(" ",
        transform(split(col("text"), " "),
          w => concat(lit("r"), col("rep"), lit("_"), w)))).as("text"),
      col("lang"), col("source"),
      length(when(col("rep") === 0, col("text")).otherwise(concat_ws(" ",
        transform(split(col("text"), " "),
          w => concat(lit("r"), col("rep"), lit("_"), w)))))
        .cast("long").as("n_chars")), out, "documents.parquet")

    writeFlat(replicateEmbeddings(spark, base, nReps),
      out, "embeddings.parquet")

    val ev = spark.read.parquet(s"$base/events.parquet")
    writeFlat(ev.crossJoin(reps).select(
      (col("event_id") + col("rep") * 1000000000L).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * 10000000L).as("user_id"),
      col("event_type"), col("value"), col("props")),
      out, "events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      if (nReps == 10) "/tmp/graft_sf1" else s"/tmp/graft_sfx$nReps")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the smoke measures 10×/100× corpora — the regime where the state
    // geometry knob (DEPLOY.md: spark.graft.statePartitions) goes UP
    // with state volume; the gate default (8) is sized for the sf0.1
    // fixture and throttles the stateful join stage at 100× (measured:
    // 6.5× wall at 8 wide vs 2.6× at full width). Production sizing =
    // available cores here.
    spark.conf.set("spark.graft.statePartitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    graft.functions.GraftExtensions.register(spark)

    // per-query shuffle-write and input-byte accounting via stage
    // metrics, one listener for every leg; the listener bus is async, so
    // drain with a short settle after each query
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesRead.addAndGet(m.inputMetrics.bytesRead): Unit
      }
    })

    def runOne(name: String, dir: String): (Seq[Double], Long) = {
      val fn = Variants.getOrElse(name,
        DimsVariants.getOrElse(name, SparkEntry.queries(name)))
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Materialize.release(spark)
        dt
      }
      Thread.sleep(500) // let stage-completed events drain
      (times, shuffleWrite.getAndSet(0L))
    }

    // optional args: target-name substrings (local iteration aid, like
    // Bench's); no args = the full target set
    val all = Targets ++ DimsTargets ++
      Seq("sim_recall@scaledC", "sim_recall@probes", "cdc_evolving@state",
        "lake_compact@touched", "lake_versions@pub", "lake_merge@touched",
        "lake_cdf@touched", "lake_cdf@catchup", "lake_follow@catchup",
        "lake_gens@vacuum")
    val targets =
      if (args.isEmpty) all
      else all.filter(t => args.exists(t.contains))

    // row-scaled corpus: derive + warm ONLY if a row target was selected
    // (a dims-only or generation-count-only invocation must not pay the
    // ~220M-char derivation — lake_gens@vacuum synthesizes its own rows)
    if (targets.exists(t => !t.endsWith("@dims") && t != "lake_gens@vacuum")) {
      if (!new java.io.File(s"$sf1/documents.parquet").exists()) {
        System.err.println(
          s"[scale] deriving ${nReps}x corpus at $sf1 from $base")
        derive(spark, base, sf1, nReps)
      }
      // warm first-touch I/O at both dirs so timings measure compute
      for (d <- Seq(base, sf1); t <- Seq("documents", "embeddings", "events"))
        spark.read.parquet(s"$d/$t.parquet").count()
      shuffleWrite.set(0L)
    }
    // width datapoint corpora: constant rows (10x sf0.1), 64 vs W dims.
    // Cache dirs are keyed by the BASE corpus fingerprint and the row-rep
    // factor (same discipline the row-scaled path got with
    // /tmp/graft_sfx$nReps): deriveDims reuses an existing dir by
    // existence check, so an unkeyed name would silently serve stale
    // derived data after the base corpus or rep count changes.
    val dimsW = sys.env.getOrElse("SPARK_GRAFT_DIMS", "256").toInt
    val dimsRowReps = 10
    val dimsKey = graft.operators.TrainedCache
      .fingerprint(s"$base/embeddings.parquet").take(8) + s"_r$dimsRowReps"
    val (dims64Dir, dimsWDir) = (s"/tmp/graft_dims64_$dimsKey",
      s"/tmp/graft_dims${dimsW}_$dimsKey")
    if (targets.exists(_.endsWith("@dims"))) {
      // validated only when a dims target runs — a stray env var must not
      // abort row-only smokes that never touch the dims corpora
      require(dimsW >= 128 && dimsW % 64 == 0,
        s"SPARK_GRAFT_DIMS=$dimsW must be >= 128 and a multiple of 64 — " +
          "the widening concatenates whole rotated 64-dim copies")
      System.err.println(s"[scale] deriving dims corpora (64 / $dimsW) " +
        s"at $dims64Dir, $dimsWDir")
      deriveDims(spark, base, dims64Dir, dimsWDir, dimsW / 64, dimsRowReps)
      for (d <- Seq(dims64Dir, dimsWDir))
        spark.read.parquet(s"$d/embeddings.parquet").count()
      shuffleWrite.set(0L)
    }
    // quality row, not a timing row: recall/precision of the scaled
    // (sampled-train + hierarchical-assign) near-dup path against the
    // exact flat path's pair set, overall AND on the boundary band
    // [threshold, threshold+0.05) where cell-boundary approximation
    // bites hardest. Run at sf0.1 and 10× only — the flat reference is
    // the quadratic-training form this row exists to bound, so 100×
    // would spend ~10 min computing the baseline.
    val qualityTargets = targets.filter(_ == "sim_recall@scaledC")
    for (_ <- qualityTargets.headOption) {
      import graft.operators.Similarity
      val thr = 0.4
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = e.count()
        val c = Similarity.autoCellsFor(n)
        def pairs(df: DataFrame): Map[(Long, Long), Double] =
          df.collect().map(r =>
            (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        // ground truth by BRUTE FORCE, not the flat path: flat and scaled
        // are both cell-partition approximations, and their symmetric
        // difference only measures partition churn, not quality — each
        // loses ~equal borderline pairs the other finds. 2×10⁸ cosines at
        // 10× is seconds on 32 cores; this row is the one place the
        // engine can afford an exact reference.
        val v = e.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val truth = pairs(v.as("a")
          .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            graft.operators.Similarity
              .cosine(col("a.v"), col("b.v")).as("sim"))
          .filter(col("sim") >= thr)
          .select(col("va"), col("vb"), round(col("sim"), 6).as("sim")))
        // one flat-trained quantizer shared by the flat and multi-probe
        // rows so the mp delta isolates the probe count, not training
        val cent = Similarity.kmeansCentroids(e, c, 2)
        val flat = pairs(Similarity.nearDupPairsWith(e, cent, thr))
        val mp = pairs(Similarity.nearDupPairsWith(e, cent, thr, probes = 2))
        val scaled = pairs(Similarity.nearDupPairsScaled(e, c, thr,
          nRows = n))
        val scaledMp = pairs(Similarity.nearDupPairsScaled(
          e, c, thr, probes = 2, nRows = n))
        // STRONG pairs (≥ thr+0.05) are boundary-free candidates; DUP
        // pairs (≥ 0.7) are the true near-duplicates the operator exists
        // to find; the band [thr, thr+0.05) is boundary churn
        val strong = truth.filter(_._2 >= thr + 0.05).keySet
        val dup = truth.filter(_._2 >= 0.7).keySet
        def pct(num: Int, den: Int): Double =
          if (den == 0) 1.0 else num.toDouble / den
        def rec(s: Set[(Long, Long)], ref: Set[(Long, Long)]): Double =
          pct((s & ref).size, ref.size)
        System.err.println(f"[scale] sim_recall@scaledC $lbl%5s C=$c " +
          f"truth=${truth.size} (strong=${strong.size} dup=${dup.size}) " +
          f"flat=${flat.size} scaled=${scaled.size} | vs truth: " +
          f"flatRecall=${rec(flat.keySet, truth.keySet)}%.3f " +
          f"scaledRecall=${rec(scaled.keySet, truth.keySet)}%.3f " +
          f"flatStrong=${rec(flat.keySet, strong)}%.3f " +
          f"scaledStrong=${rec(scaled.keySet, strong)}%.3f " +
          f"flatDup=${rec(flat.keySet, dup)}%.3f " +
          f"scaledDup=${rec(scaled.keySet, dup)}%.3f | " +
          f"mp2Recall=${rec(mp.keySet, truth.keySet)}%.3f " +
          f"mp2Strong=${rec(mp.keySet, strong)}%.3f " +
          f"scaledMp2Recall=${rec(scaledMp.keySet, truth.keySet)}%.3f | " +
          f"scaled∩flat/flat=${rec(scaled.keySet, flat.keySet)}%.3f")
        Materialize.release(spark)
      }
    }
    // recall-vs-probes curve: the measurement behind the multi-probe
    // knob's PRODUCTION DEFAULT. For probes ∈ {1, 2, 4, 8}, against the
    // same brute-force truth as the row above: recall of the flat and the
    // scaled (sampled-train + hier-assign) multi-probe paths, plus the
    // CANDIDATE MASS each probe count buys (Σ over cells of n_c·(n_c−1)/2
    // — the exact-verify bill, the quantity that must stay ~probes×
    // linear for the knob to be affordable at 100 TB). Containment is
    // asserted inline: pairs(p) ⊆ pairs(p') for p < p' — a violation
    // prints loudly instead of silently skewing the curve.
    val probeTargets = targets.filter(_ == "sim_recall@probes")
    for (_ <- probeTargets.headOption) {
      import graft.Materialize.Ops
      import graft.operators.Similarity
      val thr = 0.4
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = e.count()
        val c = Similarity.autoCellsFor(n)
        val v = e.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v")).materialize()
        def keys(df: DataFrame): Set[(Long, Long)] =
          df.select("va", "vb").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val truth = keys(v.as("a")
          .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            Similarity.cosine(col("a.v"), col("b.v")).as("sim"))
          .filter(col("sim") >= thr))
        val cent = Similarity.kmeansCentroids(e, c, 2).materialize()
        def rec(s: Set[(Long, Long)]): Double =
          if (truth.isEmpty) 1.0 else (s & truth).size.toDouble / truth.size
        var prevFlat = Set.empty[(Long, Long)]
        var prevScaled = Set.empty[(Long, Long)]
        var mass1 = 0L
        for (p <- Seq(1, 2, 4, 8)) {
          val asn = Similarity.assignCells(v, cent, p).materialize()
          val mass = asn.groupBy("cid").agg(count(lit(1)).as("m"))
            .agg(sum(col("m") * (col("m") - 1)).cast("long")).head()
            .getLong(0) / 2
          if (p == 1) mass1 = mass
          val mp = keys(Similarity.nearDupPairsWith(
            e, cent, thr, probes = p))
          val sMp = keys(Similarity.nearDupPairsScaled(
            e, c, thr, probes = p, nRows = n))
          val contained = prevFlat.subsetOf(mp) && prevScaled.subsetOf(sMp)
          prevFlat = mp; prevScaled = sMp
          System.err.println(f"[scale] sim_recall@probes $lbl%5s C=$c " +
            f"p=$p truth=${truth.size} mpRecall=${rec(mp)}%.3f " +
            f"scaledMpRecall=${rec(sMp)}%.3f mass=$mass%10d " +
            f"massX=${mass.toDouble / math.max(mass1, 1L)}%5.2f " +
            (if (contained) "contained" else "CONTAINMENT VIOLATED"))
        }
        // NOT inside the p loop: release() unpersists every checkpointed
        // block, and v/cent are reused across probe counts
        Materialize.release(spark)
      }
    }
    // state-scaling row for the untyped evolving sink: foldBatch's
    // O(touched-bucket rows + batch) claim, MEASURED instead of argued
    // from the plan. Per scale: 3 bootstrap batches (seq-range slices of
    // the event change log — state grows 0 → all keys), then 6 small
    // incremental batches touching a FIXED 8-key set. Every batch is its
    // own runEvolving invocation on the SAME checkpoint + state dir, so
    // each one also exercises the restart path (offsets resume, settled
    // segments are not re-read). Buckets scale with the key count
    // (~300 keys/bucket) — the production tuning that keeps bucket size
    // bounded; with it, an 8-key batch touches ≤ 8 buckets and its cost
    // must stay FLAT as total state grows 10×/100× across the dirs.
    val evolvingTargets = targets.filter(_ == "cdc_evolving@state")
    for (_ <- evolvingTargets.headOption) {
      import graft.streaming.CdcStream
      import org.apache.spark.sql.streaming.Trigger
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val root =
          java.nio.file.Files.createTempDirectory("graft_evsm").toString
        val src = s"$root/src"; new java.io.File(src).mkdirs()
        val state = s"$root/state"; val ckpt = s"$root/ckpt"
        val log = graft.CdcBatch.changeLog(spark, dir)
        val logSchema = log.schema
        val stats = log.agg(min("seq"), max("seq"), countDistinct("rid")).head()
        val (minSeq, maxSeq, users) =
          (stats.getLong(0), stats.getLong(1), stats.getLong(2))
        val nB = math.max(16L, users / 300L).toInt
        def run(tag: String): Unit = {
          val t0 = System.nanoTime(); val b0 = bytesRead.get()
          val q = CdcStream.runEvolving(spark, src, logSchema, state, ckpt,
            nBuckets = nB, trigger = Trigger.AvailableNow())
          q.awaitTermination()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // drain stage-completed events
          val mb = (bytesRead.get() - b0) / 1e6
          val stRows = CdcStream.readState(spark, state).count()
          val stMb = org.apache.commons.io.FileUtils
            .sizeOfDirectory(new java.io.File(state)) / 1e6
          System.err.println(f"[scale] cdc_evolving@state $lbl%5s " +
            f"$tag%-5s ${dt}%6.2f s  read ${mb}%8.1f MB  " +
            f"state $stRows%8d rows ${stMb}%7.1f MB  buckets=$nB")
          Materialize.release(spark)
        }
        val span = (maxSeq - minSeq) / 3 + 1
        for (i <- 0 until 3) {
          val lo = minSeq + i * span
          writeFlat(log.filter(col("seq") >= lo && col("seq") < lo + span),
            src, s"boot$i.parquet")
          run(s"boot$i")
        }
        val keys = log.select("rid").distinct().orderBy("rid").limit(8)
          .collect().map(_.getString(0)).toSeq
        import spark.implicits._
        for (i <- 0 until 6) {
          val batch = keys.zipWithIndex.map { case (k, j) =>
            ("db_test.events", k, graft.Types.Update, 0L,
              maxSeq + 1000000L + i * 100L + j, 1.0, null: String)
          }.toDF("table", "rid", "cdc_action", "cdc_ts", "seq",
            "value", "props")
          writeFlat(batch, src, s"inc$i.parquet")
          run(s"inc$i")
        }
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }
    // Compaction scale row: the operator's two claims, measured — (1) the
    // rewrite reads only degenerate partitions (input bytes ≈ the one
    // fragmented dir, not the corpus), (2) the settled-corpus pass is a
    // pure FS-metadata decision (zero Spark input bytes, no job beyond
    // the report). "full" (every dir fragmented) is the O(corpus) bound
    // the incremental pass avoids.
    val compactTargets = targets.filter(_ == "lake_compact@touched")
    for (_ <- compactTargets.headOption) {
      import graft.sources.Lake
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val root =
          java.nio.file.Files.createTempDirectory("graft_cptsm").toString
        val out = s"$root/corpus"
        val d = spark.read.parquet(s"$dir/documents.parquet")
          .withColumn("pt", pmod(col("doc_id"), lit(32)))
        def stage(fragmentAll: Boolean): Unit = {
          val settled = if (fragmentAll) d.limit(0) else d.filter(col("pt") =!= 0)
          settled.repartition(col("pt"))
            .write.mode("overwrite").partitionBy("pt").parquet(out)
          val frag = if (fragmentAll) d else d.filter(col("pt") === 0)
          frag.repartition(col("pt"))
            .write.mode("append").option("maxRecordsPerFile", 20L)
            .partitionBy("pt").parquet(out)
        }
        def run(tag: String): Unit = {
          Thread.sleep(300); bytesRead.set(0L)
          val t0 = System.nanoTime()
          val rep = Lake.compact(spark, out, Seq("pt"), Seq("doc_id"),
            targetBytes = 64L * 1024 * 1024).collect()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // drain stage-completed events
          val mb = bytesRead.get() / 1e6
          val nC = rep.count(_.getAs[String]("action") == "compacted")
          val fB = rep.map(_.getAs[Long]("files_before")).sum
          val fA = rep.map(_.getAs[Long]("files_after")).sum
          System.err.println(f"[scale] lake_compact@touched $lbl%5s " +
            f"$tag%-8s ${dt}%6.2f s  read ${mb}%8.1f MB  " +
            f"compacted $nC%2d/${rep.length}%2d dirs  files $fB%4d → $fA%4d")
          Materialize.release(spark)
        }
        stage(fragmentAll = false)
        run("touched") // one degenerate dir: reads ~corpus/32
        run("noop")    // settled corpus: decision only, ~zero input bytes
        stage(fragmentAll = true)
        run("full")    // every dir degenerate: the O(corpus) upper bound
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }
    // versioned publishing: (1) publish cost tracks the corpus (it IS the
    // curated write), (2) the pointer read resolves in constant metadata
    // time, and (3) rollback is O(1) — independent of corpus size — the
    // operational claim the MVCC-lite design makes. Measured, not assumed.
    val versionTargets = targets.filter(_ == "lake_versions@pub")
    for (_ <- versionTargets.headOption) {
      import graft.sources.Lake
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_versm").toString
        val lake = s"$root/lake"
        import graft.Materialize.Ops
        val d = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text", "lang")
        val (_, tPub0) = timed(Lake.publishVersion(d, lake, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L))
        val (_, tPub1) = timed(Lake.publishVersion(
          d.withColumn("text", concat(col("text"), lit(" v2"))), lake,
          Seq("lang"), Seq("doc_id"), maxRecordsPerFile = 2000000L))
        val (n1, tRead) = timed(Lake.readVersion(spark, lake).count())
        val (_, tRb) = timed(Lake.rollbackTo(spark, lake, 0L))
        val (n0, tRead0) = timed(Lake.readVersion(spark, lake).count())
        // retention (the MVCC-vacuum contract, measured): a keep=2
        // publish prunes every generation ≤ published−2 — v0 (the
        // rolled-back-to current until this flip) leaves the horizon.
        // Prune cost = the publish's delta over the same corpus write
        // above (it is fs.delete of aged generation dirs — metadata, no
        // data pass), and a reader pinned below the horizon must fail
        // LOUDLY, never silently read a half-deleted generation.
        val (v2, tPrune) = timed(Lake.publishVersion(d, lake, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L, keep = 2))
        val prunedLoud =
          try { Lake.readVersion(spark, lake, Some(0L)); false }
          catch { case _: IllegalStateException => true }
        require(prunedLoud,
          "pinned read of a pruned generation did not fail loudly")
        require(Lake.readVersion(spark, lake).count() == n0,
          "current read changed across the pruning publish")
        // delta publish: rewrite ONE lang partition on top of the
        // pruning publish's full generation — the physical write must
        // track the partition, not the corpus (compare tDelta against
        // tPrune/tPub*, which each write the whole corpus)
        val oneLang = d
          .crossJoin(broadcast(d.agg(min("lang").as("_ml"))))
          .filter(col("lang") === col("_ml"))
          .select(col("doc_id"),
            concat(col("text"), lit(" dX")).as("text"), col("lang"))
          .materialize() // derive outside the timer: the row measures
                         // the PUBLISH (write + manifest), not the
                         // caller's delta derivation
        val (_, tDelta) = timed(Lake.publishDelta(oneLang, lake,
          Seq("lang"), Seq("doc_id"), maxRecordsPerFile = 2000000L,
          keep = 2))
        val (nD, tReadD) = timed(Lake.readVersion(spark, lake).count())
        require(nD == n0, "delta resolution changed the corpus row count")
        System.err.println(f"[scale] lake_versions@pub $lbl%5s " +
          f"pub0 ${tPub0}%6.2f s  pub1 ${tPub1}%6.2f s  " +
          f"read ${tRead}%5.2f s ($n1%7d rows)  " +
          f"ROLLBACK ${tRb * 1000}%7.1f ms  read@v0 ${tRead0}%5.2f s " +
          f"($n0%7d rows)  prunePub(v=$v2,keep=2) ${tPrune}%6.2f s " +
          f"pruned-read=loud  DELTA(1 lang) ${tDelta}%6.2f s " +
          f"readΔ ${tReadD}%5.2f s")
        Materialize.release(spark)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }
    // Lifecycle accounting at GENERATION scale (r17 verdict #2): a year
    // of hourly micro-batch publishes is ~10⁴ generations on disk inside
    // the retention window of a slow consumer — history() and vacuum()'s
    // accounting must stay metadata-cheap per call as the generation
    // count grows, or the ops surface becomes the bottleneck long before
    // the data does. Pre-r18 both walked every file of every generation
    // AND history ran one Spark count() job per generation per call; the
    // publish-time _SIZE ledger makes both one tiny read per generation.
    // This leg builds one lake incrementally (1-row deltas — the
    // accounting cost under measurement is per GENERATION, not per row),
    // measures history()/vacuum(accounting-only) at 250 and at 1,000
    // generations, pins near-linear growth in the generation count and
    // an absolute per-call bound, then measures the real prune of 950
    // generations. The per-generation fallback cost (walk + footer
    // count job) is measured on one generation and printed as the
    // counterfactual the ledger replaces.
    val genTargets = targets.filter(_ == "lake_gens@vacuum")
    for (_ <- genTargets.headOption) {
      import graft.sources.Lake
      val root = java.nio.file.Files
        .createTempDirectory("graft_gensm").toString
      val lake = s"$root/lake"
      import spark.implicits._
      val baseDf = (0 until 64).map(i => (i.toLong, s"doc $i", s"g${i % 4}"))
        .toDF("doc_id", "text", "lang")
      Lake.publishVersion(baseDf, lake, Seq("lang"), Seq("doc_id"),
        maxRecordsPerFile = 1000000L, keep = 1000000)
      var published = 1L
      def publishTo(n: Int): Double = {
        val (_, t) = timed {
          while (published < n) {
            Lake.publishDelta(
              Seq((published, s"rev $published", "g0"))
                .toDF("doc_id", "text", "lang"),
              lake, Seq("lang"), Seq("doc_id"),
              maxRecordsPerFile = 1000000L, keep = 1000000)
            published += 1
          }
        }
        t
      }
      val results = Seq(250, 1000).map { n =>
        val tBuild = publishTo(n)
        val (hRows, tHist) = timed(Lake.history(spark, lake).collect())
        require(hRows.length == n, s"history saw ${hRows.length} of $n gens")
        // keep = n retains everything: this measures ACCOUNTING only
        val (vRows, tVac) = timed(
          Lake.vacuum(spark, lake, keep = n).collect())
        require(vRows.count(_.getString(1) == "retained") == n,
          "accounting-only vacuum pruned something")
        System.err.println(f"[scale] lake_gens@vacuum $n%5d gens  " +
          f"build ${tBuild}%7.2f s (${tBuild / n * 1000}%6.1f ms/pub)  " +
          f"history ${tHist * 1000}%8.1f ms  vacuum(acct) ${tVac * 1000}%8.1f ms")
        (n, tHist, tVac)
      }
      // counterfactual: one generation's ledger-less accounting (walk +
      // footer count job) × N is what each history() call paid pre-r18
      val g1 = new org.apache.hadoop.fs.Path(s"$lake/v=1")
      val fs = g1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(g1, "_SIZE"), false)
      val (_, tFall) = timed {
        spark.read.parquet(g1.toString).count()
      }
      System.err.println(f"[scale] lake_gens@vacuum fallback count job " +
        f"${tFall * 1000}%6.1f ms/gen -> ~${tFall * 1000}%4.0f s per " +
        "history() call at 1000 gens pre-ledger")
      // pinned bounds: near-linear growth (4x gens -> <= 8x wall) and an
      // absolute ceiling generous enough for slow CI filesystems
      val Seq((_, h250, v250), (_, h1000, v1000)) = results
      require(h1000 < 30.0 && v1000 < 30.0,
        f"accounting not metadata-cheap at 1000 gens: history $h1000%.1f s" +
          f" vacuum $v1000%.1f s")
      require(h1000 / math.max(h250, 1e-3) < 8.0 &&
        v1000 / math.max(v250, 1e-3) < 8.0,
        f"accounting grows super-linearly in generations: history " +
          f"$h250%.2f->$h1000%.2f s, vacuum $v250%.2f->$v1000%.2f s")
      // the real prune: 950 generations leave the horizon in one call
      val (pruned, tPrune) = timed(
        Lake.vacuum(spark, lake, keep = 50).collect())
      val nPruned = pruned.count(_.getString(1) == "pruned")
      System.err.println(f"[scale] lake_gens@vacuum prune(keep=50) " +
        f"${tPrune}%6.2f s  ($nPruned gens removed)")
      require(nPruned > 900, s"expected ~950 pruned, got $nPruned")
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
    }
    // CDC merge into the versioned lake: the changelog touches ONE lang
    // partition (edits + deletes + inserts); the merge must track the
    // touched partition + changelog, never the corpus — compare tMerge
    // against tPub (the full-corpus write) at both scales. Correctness
    // rides along: the merged row count must equal base − deletes +
    // inserts at every scale.
    val mergeTargets = targets.filter(_ == "lake_merge@touched")
    for (_ <- mergeTargets.headOption) {
      import graft.sources.Lake
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_mergesm").toString
        val lake = s"$root/lake"
        import graft.Materialize.Ops
        val d = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text", "lang")
        val (_, tPub) = timed(Lake.publishVersion(d, lake, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L))
        val n0 = d.count()
        val scoped = d
          .crossJoin(broadcast(d.agg(min("lang").as("_ml"))))
          .filter(col("lang") === col("_ml"))
        // derive the changelog OUTSIDE the timer — the row measures the
        // MERGE (pruned read + anti-join + delta publish), not the
        // caller's changelog derivation
        val changes = scoped
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 10 =!= 7)
          .select(col("doc_id"),
            concat(col("text"), lit(" mX")).as("text"), col("lang"),
            lit("upsert").as("op"))
          .union(scoped.filter(col("doc_id") % 10 === 7)
            .select(col("doc_id"), lit(null).cast("string").as("text"),
              col("lang"), lit("delete").as("op")))
          .union(scoped.filter(col("doc_id") % 11 === 0)
            // insert ids far above any derived corpus key (derive() re-keys
            // at +rep*1e7, so +9e8 collided with rep>=90 ids at 100x and
            // turned inserts into updates — the offset must clear 100x)
            .select((col("doc_id") + 1000000000000L).as("doc_id"),
              col("text"), col("lang"), lit("upsert").as("op")))
          .materialize()
        val nCh = changes.count()
        val nDel = changes.filter(col("op") === "delete").count()
        val nIns = changes.filter(col("doc_id") >= 1000000000000L).count()
        val (_, tMerge) = timed(Lake.mergeDelta(changes, lake,
          Seq("doc_id"), Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 2000000L))
        val (nM, tRead) = timed(Lake.readVersion(spark, lake).count())
        require(nM == n0 - nDel + nIns,
          s"merge row accounting broke: $nM != $n0 - $nDel + $nIns")
        System.err.println(f"[scale] lake_merge@touched $lbl%5s " +
          f"pubFull ${tPub}%6.2f s  MERGE(1 lang, $nCh%7d changes) " +
          f"${tMerge}%6.2f s  read ${tRead}%5.2f s ($nM%8d rows)")
        Materialize.release(spark)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }
    // change-data-feed row: after a one-partition merge, tailing the feed
    // (changesBetween — reads only the partitions whose physical owner
    // differs) must track the TOUCHED partition while the full snapshot
    // diff (diffVersions — reads both whole generations) grows with the
    // corpus; both must emit the identical ledger (checksum-compared, so
    // the O(changed) plan is proven equal to the O(corpus) one, not just
    // faster)
    val cdfTargets = targets.filter(_ == "lake_cdf@touched")
    for (_ <- cdfTargets.headOption) {
      import graft.sources.Lake
      for ((dir, lbl) <- Seq((base, "sf0.1"), (sf1, s"${nReps}x"))) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_cdfsm").toString
        val lake = s"$root/lake"
        import graft.Materialize.Ops
        val d = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text", "lang")
        val (_, tPub) = timed(Lake.publishVersion(d, lake, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L))
        val scoped = d
          .crossJoin(broadcast(d.agg(min("lang").as("_ml"))))
          .filter(col("lang") === col("_ml"))
        val changes = scoped
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 10 =!= 7)
          .select(col("doc_id"),
            concat(col("text"), lit(" mX")).as("text"), col("lang"),
            lit("upsert").as("op"))
          .union(scoped.filter(col("doc_id") % 10 === 7)
            .select(col("doc_id"), lit(null).cast("string").as("text"),
              col("lang"), lit("delete").as("op")))
          .materialize()
        val nCh = changes.count()
        Lake.mergeDelta(changes, lake, Seq("doc_id"), Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L): Unit
        def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          // bit_xor, not sum: xxhash64 values are uniform 64-bit, and a
          // long SUM over them overflows (an error under ANSI mode)
          val r = df.withColumn("_h", xxhash64(
              col("v"), col("doc_id"), col("change"),
              col("old_hash"), col("new_hash")))
            .agg(count(lit(1)), expr("bit_xor(_h)")).collect()(0)
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val (feedSum, tFeed) = timed(checksum(
          Lake.changesBetween(spark, lake, 0L, 1L, "doc_id", "text")))
        val (diffSum, tFull) = timed(checksum(
          Lake.diffVersions(spark, lake, 0L, 1L, "doc_id", "text")
            .withColumn("v", lit(1L))))
        require(feedSum == diffSum,
          s"feed != full diff: $feedSum vs $diffSum")
        System.err.println(f"[scale] lake_cdf@touched $lbl%5s " +
          f"FEED(1 lang, $nCh%7d changes) ${tFeed}%6.2f s  " +
          f"full diff ${tFull}%6.2f s  (${feedSum._1}%7d ledger rows)")
        // digest leg: two identical FULL publishes — every dir's owner
        // differs, so owner pruning cannot help; the content digests
        // must hold the feed flat (zero corpus read) while the full
        // diff grows with the corpus. Also prices the digest's write
        // overhead against the undigested publish above.
        val lakeD = s"$root/lakeD"
        val (_, tPubD) = timed(Lake.publishVersion(d, lakeD, Seq("lang"),
          Seq("doc_id"), maxRecordsPerFile = 2000000L, digest = true))
        Lake.publishVersion(d, lakeD, Seq("lang"), Seq("doc_id"),
          maxRecordsPerFile = 2000000L, digest = true): Unit
        val (dSum, tFeedD) = timed(checksum(
          Lake.changesBetween(spark, lakeD, 0L, 1L, "doc_id", "text")))
        require(dSum._1 == 0L,
          s"identical republish fed ${dSum._1} phantom rows")
        System.err.println(f"[scale] lake_cdf@digest  $lbl%5s " +
          f"FEED(identical full republish) ${tFeedD}%6.2f s  " +
          f"publish ${tPub}%6.2f -> ${tPubD}%6.2f s with digest")
        Materialize.release(spark)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(root))
      }
    }
    // 50-version catch-up (r15 verdict #4): per-step cost must stay flat
    // across a long feed range — the windowed drain materializes every
    // maxPlanSteps steps, so doubling the range doubles the time instead
    // of superlinearly growing one analyzer pass over O(steps) branches.
    val catchupTargets = targets.filter(_ == "lake_cdf@catchup")
    val followTargets = targets.filter(_ == "lake_follow@catchup")
    for (_ <- (catchupTargets ++ followTargets).headOption) {
      import graft.sources.Lake
      val root = java.nio.file.Files
        .createTempDirectory("graft_cdfcu").toString
      val lake = s"$root/lake"
      val d = spark.read.parquet(s"$base/documents.parquet")
        .select("doc_id", "text", "lang")
      Lake.publishVersion(d, lake, Seq("lang"), Seq("doc_id"),
        maxRecordsPerFile = 2000000L, keep = 60): Unit
      val langs = d.select("lang").distinct()
        .collect().map(_.getString(0)).sorted
      val (_, tPubs) = timed {
        for (v <- 1 to 50)
          Lake.publishDelta(
            d.filter(col("lang") === langs(v % langs.length) &&
                col("doc_id") % 50 === v % 50)
              .withColumn("text", concat(col("text"), lit(s" v$v"))),
            lake, Seq("lang"), Seq("doc_id"),
            maxRecordsPerFile = 2000000L, keep = 60): Unit
      }
      var rows050 = -1L // windowed 0->50 count, shared with the follow leg
      if (catchupTargets.nonEmpty) {
        def drain(to: Long, planSteps: Int): (Long, Double, Int) = {
          // one timer over build + count: the windowed drain does its
          // materialization work during changesBetween itself
          val ((n, leaves), t) = timed {
            val df = Lake.changesBetween(
              spark, lake, 0L, to, "doc_id", "text", maxPlanSteps = planSteps)
            (df.count(),
              df.queryExecution.optimizedPlan.collectLeaves().length)
          }
          Materialize.release(spark)
          (n, t, leaves)
        }
        val (n25, t25, l25) = drain(25L, 16)
        val (n50, t50, l50) = drain(50L, 16)
        val (n50one, t50one, l50one) = drain(50L, 1000)
        require(n50 == n50one,
          s"windowed vs one-plan feed disagree: $n50 vs $n50one")
        // paged leg: the lazy DR shape — process-and-discard per page,
        // nothing materialized, nothing pinned
        val (nPaged, tPaged) = timed {
          Lake.changesBetweenPaged(spark, lake, 0L, 50L, "doc_id", "text")
            .map(_._1.count()).sum
        }
        require(nPaged == n50,
          s"paged vs windowed feed disagree: $nPaged vs $n50")
        rows050 = n50
        System.err.println(f"[scale] lake_cdf@catchup 50 deltas published " +
          f"in ${tPubs}%6.2f s; drain 0->25 ${t25}%6.2f s ($l25 plan " +
          f"leaves, $n25 rows), 0->50 ${t50}%6.2f s ($l50 leaves, $n50 " +
          f"rows; flat-per-step ratio ${t50 / t25}%4.2f), one-plan 0->50 " +
          f"${t50one}%6.2f s ($l50one leaves), paged 0->50 ${tPaged}%6.2f s")
      }
      if (followTargets.nonEmpty) {
        // standing-consumer DR shape (r16 verdict #5): a consumer
        // bootstrapped at v0 catches up over the 50-delta lake in
        // 10-step pages through [[Lake.followChanges]], its handler is
        // KILLED mid-catch-up (injected crash on the third page), and
        // the restarted consumer must redeliver EXACTLY the killed page
        // — no earlier page repeats, none skipped — with flat per-page
        // cost (each page is the same per-step diff work; a growing
        // per-page cost here would be the O(history) catch-up bug).
        val expected =
          if (rows050 >= 0) rows050
          else Lake.changesBetweenPaged(
            spark, lake, 0L, 50L, "doc_id", "text").map(_._1.count()).sum
        val cursor = s"$root/follow_cursor"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(cursor), "0")
        val ends = scala.collection.mutable.ArrayBuffer[Long]()
        val pageSecs = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
        var delivered = 0L
        var crashedAt = -1L
        var mark = System.nanoTime()
        def page(df: org.apache.spark.sql.DataFrame, end: Long): Unit = {
          delivered += df.count()
          pageSecs += ((end, (System.nanoTime() - mark) / 1e9))
          mark = System.nanoTime()
          ends += end
        }
        val crash = try {
          Lake.followChanges(spark, lake, cursor, "doc_id", "text",
              maxPlanSteps = 10) { (df, end) =>
            if (ends.length == 2) {
              crashedAt = end
              throw new RuntimeException("injected consumer crash")
            }
            page(df, end)
          }
          None
        } catch { case e: RuntimeException => Some(e) }
        require(crash.exists(_.getMessage == "injected consumer crash"),
          s"crash injection did not fire: $crash")
        mark = System.nanoTime()
        val resumed = Lake.followChanges(spark, lake, cursor,
          "doc_id", "text", maxPlanSteps = 10)(page)
        require(crashedAt == 30L, s"crash landed on page $crashedAt")
        require(resumed == 3, s"resume delivered $resumed pages, wanted 3")
        require(ends.toSeq == Seq(10L, 20L, 30L, 40L, 50L),
          s"redelivery broke: $ends (crashed at $crashedAt)")
        require(delivered == expected,
          s"follow consumer rows $delivered != windowed feed $expected")
        val secs = pageSecs.map(_._2)
        System.err.println(f"[scale] lake_follow@catchup 5 pages x 10 " +
          f"steps, handler killed on p3: redelivered exactly v=30; rows " +
          f"$delivered = windowed $expected; per-page " +
          pageSecs.map { case (v, t) => f"v$v ${t}%4.2f s" }
            .mkString(", ") +
          f"; max/min ${secs.max / secs.min}%4.2f")
        Materialize.release(spark)
      }
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
    }
    val rows = targets
      .filterNot(t => qualityTargets.contains(t) ||
        versionTargets.contains(t) ||
        probeTargets.contains(t) ||
        cdfTargets.contains(t) ||
        catchupTargets.contains(t) ||
        followTargets.contains(t) ||
        mergeTargets.contains(t) ||
        genTargets.contains(t) ||
        evolvingTargets.contains(t) || compactTargets.contains(t))
      .map { q =>
      val dims = q.endsWith("@dims")
      val (dirA, dirB) = if (dims) (dims64Dir, dimsWDir) else (base, sf1)
      val (aLbl, bLbl) = if (dims) ("64d", s"${dimsW}d") else ("sf0.1", s"${nReps}x")
      val (t01, sh01) = runOne(q, dirA)
      val (t1, sh1) = runOne(q, dirB)
      val r = t1.min / math.max(t01.min, 1e-9)
      System.err.println(f"[scale] $q%-20s $aLbl%5s ${t01.min}%6.2f s  " +
        f"$bLbl%5s ${t1.min}%6.2f s  ratio ${r}%5.2f×  " +
        f"shuffle ${sh01 / 1e6}%8.1f → ${sh1 / 1e6}%8.1f MB")
      (q, dims, t01, sh01, t1, sh1)
    }
    def fmt(v: Double): String = f"$v%.2f"
    // dims rows carry WIDTH-scaling keys, not the row-scaling sf01/sf1 —
    // mislabeled keys would read a 4x-width ratio as a 10x-row ratio
    val json = rows.map { case (q, dims, t01, sh01, t1, sh1) =>
      val (ka, kb) = if (dims) ("d64", s"d$dimsW") else ("sf01", "sf1")
      s""""$q":{"$ka":[${t01.map(fmt).mkString(",")}],""" +
        s""""$kb":[${t1.map(fmt).mkString(",")}],""" +
        s""""shuffle_mb_$ka":${fmt(sh01 / 1e6)},""" +
        s""""shuffle_mb_$kb":${fmt(sh1 / 1e6)},""" +
        s""""ratio":${fmt(t1.min / math.max(t01.min, 1e-9))}}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"scale_smoke","scale_up":$nReps,"queries":$json}""")
    spark.stop()
  }
}
