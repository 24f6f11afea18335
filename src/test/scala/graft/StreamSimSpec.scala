package graft

import graft.Materialize.Ops
import graft.operators.Similarity
import graft.streaming.StreamSim
import graft.streaming.StreamSim.EmbIn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming embedding near-dup must converge to the batch nearDupPairs
  * result once the corpus has streamed through: cell assignment against
  * the offline-trained quantizer is bitwise-identical to the batch hash
  * aggregate, candidates accumulate in keyed cell state, and the
  * foreachBatch verify joins back to the embedding store.
  */
class StreamSimSpec extends SparkSuite {

  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").materialize()

  private def vecs = emb.select(col("vec_id").cast("long").as("vec_id"),
    col("embedding").cast("array<double>").as("v"))

  private def batchCells(cent: org.apache.spark.sql.DataFrame, probes: Int,
      flatBelow: Int): Set[(Long, Long)] =
    Similarity.assignCells(vecs, cent, probes, flatBelow)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def foldCells(cent: org.apache.spark.sql.DataFrame, probes: Int)
      : Set[(Long, Long)] =
    StreamSim.cellRows(emb, cent, probes).collect()
      .map(r => (r.vec_id, r.cid)).toSet

  test("fold assignment == batch ivfAssignTo (same winner, same tie-break)") {
    // C = 16 sits below the fold's default flatBelow (128): the gate
    // geometry keeps the exact flat fold, equal to the batch flat heap
    // whether or not the batch side is given the same flatBelow
    val cent = Similarity.kmeansCentroids(emb, 16, 2).materialize()
    val batch = Similarity.ivfAssignTo(emb, cent)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fold = foldCells(cent, 1)
    assert(fold.size === batch.size)
    assert(fold === batch, s"fold diverged on ${(fold -- batch).size} vectors")
    assert(batchCells(cent, 1, 128) === batch)
  }

  test("cellRowsHier below flatBelow falls back to the exact flat fold — " +
      "the C = 16 gate geometry is untouched") {
    // cellRowsHier is cellRows with its default flatBelow gate (128);
    // flatBelow = Int.MaxValue is the ungated exact flat fold
    val cent = Similarity.kmeansCentroids(emb, 16, 2).materialize()
    assert(Similarity.hierCells(cent, 128) === None)
    val flat = StreamSim.cellRows(emb, cent, 1, Int.MaxValue)
      .collect().map(r => r.vec_id -> r.cid).toMap
    val hier = StreamSim.cellRows(emb, cent)
      .collect().map(r => r.vec_id -> r.cid).toMap
    assert(hier === flat)
  }

  test("hier fold assignment == batch assignCells at production C " +
      "(same winner, same tie-breaks, no drops)") {
    val cent = Similarity.kmeansCentroids(emb, 192, 2).materialize()
    assert(cent.count() >= 128,
      "fixture must keep enough cells to engage the hier path")
    val batch = batchCells(cent, 1, 128)
    val fold = foldCells(cent, 1)
    assert(fold.size === emb.count(), "hier fold dropped or duplicated rows")
    assert(fold === batch,
      s"hier fold diverged on ${(fold -- batch).size} vectors")
  }

  test("multi-probe fold assignment == batch assignCells(probes = 2), " +
      "flat (C=16), hier (C=192) and single-super regimes") {
    // 128 identical centroids train ONE super, so both hop-1 probes
    // point at it; every cosine ties and the top 2 are cids 0 and 1
    val one = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("cv"))
    val oneSuper = spark.range(128).select(col("id").as("cid"))
      .crossJoin(one).materialize()
    for ((c, cent) <- Seq(16, 192).map(c =>
        c -> Similarity.kmeansCentroids(emb, c, 2).materialize()) :+
        (128 -> oneSuper)) {
      val batch = batchCells(cent, 2, 128)
      val fold = foldCells(cent, 2)
      assert(fold === batch, s"C=$c: stream multi-probe diverged " +
        s"(missing=${(batch -- fold).size}, extra=${(fold -- batch).size})")
      // and it contains the single-probe assignment (the recall-knob
      // superset property, streamed)
      assert(foldCells(cent, 1).subsetOf(fold))
    }
  }

  test("cellRows accepts only probes 1 or 2") {
    val cent = Similarity.kmeansCentroids(emb, 16, 2)
    intercept[IllegalArgumentException](StreamSim.cellRows(emb, cent, 3))
  }

  test("a zero vector gets no streamed cell, and the streamed pair set " +
      "still equals batch nearDupPairsWith") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cent = Similarity.kmeansCentroids(emb, 16, 2).materialize()
    val zeroId = 900000L
    val withZero = emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .union(Seq((zeroId, Seq.fill(64)(0.0))).toDF("vec_id", "embedding"))
      .materialize()
    val cells = StreamSim.cellRows(withZero, cent).collect()
    assert(!cells.exists(_.vec_id == zeroId), "zero vector got a cell")
    assert(cells.length === emb.count())

    val mem = MemoryStream[EmbIn]
    val cand = StreamSim.candidates(StreamSim.cellRows(mem.toDF(), cent))
    val verified = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = cand.writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamSim.CandPair], _: Long) =>
        StreamSim.verifyPairs(b.toDF(), withZero, 0.4).collect()
          .foreach(r => verified += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        ()
      }
      .start()
    mem.addData(withZero.as[EmbIn].collect().toSeq)
    q.processAllAvailable(); q.stop()
    val batchPairs = Similarity.nearDupPairsWith(withZero, cent, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty, "fixture must produce near-dup pairs")
    assert(verified.toSet === batchPairs)
  }

  test("streamed cell candidates + verify == batch nearDupPairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the quantizer is the OFFLINE artifact both sides share
    val cent = Similarity.kmeansCentroids(emb, 16, 2).materialize()

    val mem = MemoryStream[EmbIn]
    val cand = StreamSim.candidates(StreamSim.cellRows(mem.toDF(), cent))
    val verified = scala.collection.mutable.Set[(Long, Long, Double)]()
    val q = cand.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamSim.CandPair], _: Long) =>
        StreamSim.verifyPairs(batch.toDF(), emb, 0.4)
          .collect().foreach(r =>
            verified += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        ()
      }
      .start()

    // stream the corpus in 3 micro-batches so cross-batch pairs must come
    // from the accumulated cell state
    val rows = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbIn].collect().sortBy(_.vec_id)
    val waves = rows.grouped((rows.length + 2) / 3).toSeq
    waves.foreach { w => mem.addData(w.toSeq); q.processAllAvailable() }
    q.stop()

    val batchPairs = Similarity.nearDupPairs(emb, 16, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty, "fixture must produce near-dup pairs")
    assert(verified.toSet === batchPairs)
  }

  test("nearDupStreamed: temp fallback leaks no work dirs; explicit " +
      "workDir keeps the pairs sink, drops the staging dir, and matches " +
      "the default result") {
    def tmpDirs(): Set[String] =
      new java.io.File(sys.props("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith("graft_ss")).map(_.getName).toSet
    val before = tmpDirs()
    val viaTmp = StreamSim.nearDupStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the fallback materialized its result and removed BOTH temp dirs —
    // and the returned frame stays collectable after their deletion
    assert(tmpDirs() === before, "temp-dir fallback leaked work dirs")
    assert(viaTmp.nonEmpty, "fixture must produce near-dup pairs")
    val root = java.nio.file.Files.createTempDirectory("graft_wd").toString
    try {
      val viaWd = StreamSim.nearDupStreamed(spark, sf0001,
          workDir = Some(s"$root/run1"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(viaWd === viaTmp,
        "workDir run diverged from the temp-fallback run")
      // the pairs dir is the run's durable output and stays; the staged
      // stream source is scratch and goes
      val pairs = new java.io.File(s"$root/run1/pairs")
      assert(pairs.exists() &&
        pairs.listFiles().exists(_.getName.endsWith(".parquet")),
        "pairs sink missing under workDir")
      assert(!new java.io.File(s"$root/run1/stream").exists(),
        "staging dir left under workDir")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("nearDupStreamed: temp fallback leaks no work dir when it throws") {
    def tmpDirs(): Set[String] =
      new java.io.File(sys.props("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith("graft_ss")).map(_.getName).toSet
    val noEmb = java.nio.file.Files.createTempDirectory("graft_noemb")
    try {
      val before = tmpDirs()
      intercept[Exception] {
        StreamSim.nearDupStreamed(spark, noEmb.toString)
      }
      assert(tmpDirs() === before, "a failed run leaked its work dir")
    } finally java.nio.file.Files.delete(noEmb)
  }

  test("cell cap bounds fan-out and counts drops into the accumulator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cent = Similarity.kmeansCentroids(emb, 16, 2).materialize()
    val dropped = spark.sparkContext.longAccumulator("sim_dropped")
    val mem = MemoryStream[EmbIn]
    val cand = StreamSim.candidates(
      StreamSim.cellRows(mem.toDF(), cent), maxCell = 3,
      droppedVecs = Some(dropped))
    val q = cand.writeStream.format("memory").queryName("ss_cap")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val rows = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[EmbIn].collect().sortBy(_.vec_id)
    mem.addData(rows.toSeq); q.processAllAvailable(); q.stop()
    // expected from the batch-side cell histogram: each cell admits at
    // most 3 occupants -> C(min(n,3), 2) pairs, n-3 drops
    val cellSizes = StreamSim.cellRows(emb, cent)
      .groupBy("cid").count().collect().map(_.getLong(1))
    val expPairs = cellSizes.map(n => { val k = math.min(n, 3L); k * (k - 1) / 2 }).sum
    val expDrops = cellSizes.map(n => math.max(0L, n - 3L)).sum
    assert(spark.table("ss_cap").count() === expPairs)
    assert(dropped.value === expDrops,
      s"expected $expDrops drops, got ${dropped.value}")
  }

  test("Top2Cells returns a winning negative cid, interpreted and " +
      "codegen'd (no-winner is a -inf score, not a cid sign)") {
    // (v, cids, flat centroids, expected top-2 in rank order)
    val cases = Seq(
      (Seq(1.0, 0.0), Seq(-5L, 3L, -7L),
        Seq(1.0, 0.0, 0.0, 1.0, -1.0, 0.0), Seq(-5L, 3L)),
      (Seq(1.0, 0.0), Seq(4L, -9L), Seq(0.0, 1.0, 1.0, 0.0), Seq(-9L, 4L)),
      (Seq(0.0, 1.0), Seq(-2L), Seq(0.0, 1.0), Seq(-2L)),
      (Seq(0.0, 1.0), Seq.empty[Long], Seq.empty[Double], Seq.empty[Long]))
    val dir = java.nio.file.Files.createTempDirectory("graft_top2").toString
    try {
      val s0 = spark
      import s0.implicits._
      // a parquet scan, so no optimizer rule folds the expression away
      cases.zipWithIndex.map { case ((v, c, f, _), i) => (i, v, c, f) }
        .toDF("i", "v", "cids", "flat")
        .write.mode("overwrite").parquet(dir)
      for ((label, confs) <- Seq(
          "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
            "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
          "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
            "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
            "spark.sql.codegen.fallback" -> "false"))) {
        val s = spark.newSession()
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        val got = s.read.parquet(dir)
          .select(col("i"), org.apache.spark.sql.graft.VectorFunctions
            .top2Cells(col("v"), col("cids"), col("flat")).as("top2"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
        for (((_, _, _, want), i) <- cases.zipWithIndex)
          assert(got(i) === want, s"$label, case $i")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }
}
