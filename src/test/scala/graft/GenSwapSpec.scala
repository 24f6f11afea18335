package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Generation-swap contract: committed swaps replace exactly the staged
  * leaves, settled leaves stay byte-identical in place, and a crash at ANY
  * point of the protocol (simulated by driving the primitive steps by
  * hand) recovers to a consistent generation — never duplicated rows,
  * never a partial leaf.
  */
class GenSwapSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).select("id", "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def tmp(tag: String) = java.nio.file.Files
    .createTempDirectory(SparkSuite.scratch, s"graft_gs_$tag").toString

  /** relative path -> MD5 of every regular file under `dir`. */
  private def fileDigests(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = java.nio.file.Files.walk(root).iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val p = it.next()
      if (java.nio.file.Files.isRegularFile(p))
        b += root.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
    }
    b.result()
  }

  private def stagingDirs(dir: String): Seq[String] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.startsWith(".graft-")) b += p.toString
    }
    b.result()
  }

  private def sortedJson(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*))).as[String]
      .collect().toSeq.sorted

  private def writePartitioned(dir: String, ids: Range, k: Long => String,
      mode: String = "overwrite"): Unit =
    ids.map(i => (i.toLong, k(i.toLong))).toDF("id", "k")
      .repartition(1).write.mode(mode).partitionBy("k").parquet(dir)

  test("partitioned commit: staged leaves swap in, settled leaves stay " +
      "byte-identical, gen/old dirs gone") {
    val dir = tmp("p")
    try {
      writePartitioned(dir, 0 until 40, i => s"g${i % 4}")
      val fs = fsOf(dir)
      def listing(): Map[String, Long] = {
        val it = fs.listFiles(new Path(dir), true)
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet"))
            b += (st.getPath.toString -> st.getModificationTime) }
        b.result()
      }
      val before = listing()
      // replacement for g0/g1 only: same keys, ids shifted +1000
      val g = GenSwap.begin(spark, dir)
      (0 until 20).map(i => (i + 1000L, s"g${i % 2}")).toDF("id", "k")
        .repartition(1).write.mode("overwrite").partitionBy("k")
        .parquet(g.genDir)
      GenSwap.commit(g)

      val got = rows(dir)
      val settled = (0 until 40).filter(i => i % 4 >= 2)
        .map(i => (i.toLong, s"g${i % 4}")).toSet
      val swapped = (0 until 20).map(i => (i + 1000L, s"g${i % 2}")).toSet
      assert(got === settled ++ swapped)
      // settled partitions' files: identical paths and mtimes
      val after = listing()
      before.filter(_._1.contains("k=g2")).foreach { case (p, m) =>
        assert(after.get(p).contains(m), s"settled file touched: $p") }
      before.filter(_._1.contains("k=g3")).foreach { case (p, m) =>
        assert(after.get(p).contains(m), s"settled file touched: $p") }
      // no staging residue
      assert(!fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("unpartitioned commit: whole root file set swaps; recovery after a " +
      "crash mid-move-in rolls back without duplication") {
    val dir = tmp("u")
    try {
      (0L until 30L).toDF("id").withColumn("k", lit("x"))
        .repartition(3).write.mode("overwrite").parquet(dir)
      val before = rows(dir)
      val fs = fsOf(dir)

      // full commit first: root set replaced exactly
      val g1 = GenSwap.begin(spark, dir)
      (100L until 130L).toDF("id").withColumn("k", lit("y"))
        .repartition(2).write.mode("overwrite").parquet(g1.genDir)
      GenSwap.commit(g1)
      val afterCommit = rows(dir)
      assert(afterCommit === (100L until 130L).map((_, "y")).toSet)

      // simulated crash mid-move-in: stage a gen, then BY HAND run the
      // protocol up to moving one gen file into the root (manifest
      // written, old files evacuated, one new file in), then recover()
      val g2 = GenSwap.begin(spark, dir)
      (200L until 220L).toDF("id").withColumn("k", lit("z"))
        .repartition(2).write.mode("overwrite").parquet(g2.genDir)
      val genFiles = GenSwap.leaves(fs, new Path(g2.genDir))
        .collect { case (rel, false) => rel }
      assert(genFiles.size === 2)
      fs.mkdirs(g2.old)
      val os = fs.create(new Path(g2.old, "_ROOT_MANIFEST"), true)
      os.write(genFiles.mkString("\n").getBytes("UTF-8")); os.close()
      for (st <- fs.listStatus(new Path(dir))
           if st.isFile && GenSwap.isDataName(st.getPath.getName))
        assert(fs.rename(st.getPath, new Path(g2.old, st.getPath.getName)))
      assert(fs.rename(new Path(g2.genDir, genFiles.head),
        new Path(dir, genFiles.head))) // crash here
      GenSwap.recover(fs, new Path(dir))

      // rollback: the old generation intact, no partial new files, no
      // staging dirs
      assert(rows(dir) === afterCommit)
      assert(!fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("partitioned recovery: crash between evacuate and move-in restores " +
      "the evacuated leaf; a completed leaf survives") {
    val dir = tmp("r")
    try {
      writePartitioned(dir, 0 until 30, i => s"g${i % 3}")
      val before = rows(dir)
      val fs = fsOf(dir)
      val g = GenSwap.begin(spark, dir)
      // replacement for g0 and g1
      (0 until 20).map(i => (i + 500L, s"g${i % 2}")).toDF("id", "k")
        .repartition(1).write.mode("overwrite").partitionBy("k")
        .parquet(g.genDir)
      // by hand: leaf g0 fully swapped (old out, new in); leaf g1 crashed
      // after evacuation, before move-in
      fs.mkdirs(g.old)
      assert(fs.rename(new Path(dir, "k=g0"), new Path(g.old, "k=g0")))
      assert(fs.rename(new Path(g.genDir, "k=g0"), new Path(dir, "k=g0")))
      assert(fs.rename(new Path(dir, "k=g1"), new Path(g.old, "k=g1")))
      // crash here
      GenSwap.recover(fs, new Path(dir))

      val got = rows(dir)
      val g0New = (0 until 20).filter(_ % 2 == 0)
        .map(i => (i + 500L, "g0")).toSet
      val g1Old = before.filter(_._2 == "g1")
      val g2Old = before.filter(_._2 == "g2")
      assert(got === g0New ++ g1Old ++ g2Old)
      assert(!fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("dropLeaves: a dropped leaf is evacuated atomically with the " +
      "commit; a crash before the commit point restores it") {
    val dir = tmp("dl")
    try {
      writePartitioned(dir, 0 until 30, i => s"g${i % 3}")
      val before = rows(dir)
      val fs = fsOf(dir)
      // committed drop: g2 removed, g0 replaced, g1 settled
      val g = GenSwap.begin(spark, dir)
      (0 until 10).map(i => (i + 800L, "g0")).toDF("id", "k")
        .repartition(1).write.mode("overwrite").partitionBy("k")
        .parquet(g.genDir)
      GenSwap.commit(g, dropLeaves = Seq("k=g2"))
      val g0New = (0 until 10).map(i => (i + 800L, "g0")).toSet
      assert(rows(dir) === g0New ++ before.filter(_._2 == "g1"))
      assert(!fs.exists(new Path(dir, "k=g2")))
      assert(!fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))

      // crashed drop: by hand, evacuate the drop target but "crash"
      // before the staging delete (the commit point) — recovery must
      // restore the leaf, not lose it
      val g2 = GenSwap.begin(spark, dir)
      fs.mkdirs(g2.old)
      assert(fs.rename(new Path(dir, "k=g1"), new Path(g2.old, "k=g1")))
      GenSwap.recover(fs, new Path(dir))
      assert(rows(dir) === g0New ++ before.filter(_._2 == "g1"),
        "crashed drop must restore the evacuated leaf")
      assert(!fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("recovery after a crash between a completed swap and the staging " +
      "deletes: partitioned keeps the new generation, unpartitioned " +
      "rolls back whole — never duplicates") {
    // partitioned: leaf fully swapped (old evacuated, new in place), crash
    // before the old/gen dirs were deleted — recovery must keep the NEW
    // leaf (root path present → no restore) and just clean the staging
    val dirP = tmp("pc")
    try {
      writePartitioned(dirP, 0 until 20, _ => "g0")
      val fs = fsOf(dirP)
      val g = GenSwap.begin(spark, dirP)
      (0 until 10).map(i => (i + 700L, "g0")).toDF("id", "k")
        .repartition(1).write.mode("overwrite").partitionBy("k")
        .parquet(g.genDir)
      fs.mkdirs(g.old)
      assert(fs.rename(new Path(dirP, "k=g0"), new Path(g.old, "k=g0")))
      assert(fs.rename(new Path(g.genDir, "k=g0"), new Path(dirP, "k=g0")))
      // crash here: swap complete, deletes never ran
      GenSwap.recover(fs, new Path(dirP))
      assert(rows(dirP) === (0 until 10).map(i => (i + 700L, "g0")).toSet)
      assert(!fs.listStatus(new Path(dirP))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dirP))

    // unpartitioned: all old files evacuated and all new files moved in,
    // crash before the deletes — recovery ROLLS BACK whole (the manifest
    // removes the moved-in set, the old set restores): the caller re-runs
    // and converges, and at no point do old and new rows coexist
    val dirU = tmp("uc")
    try {
      (0L until 10L).toDF("id").withColumn("k", lit("old"))
        .repartition(2).write.mode("overwrite").parquet(dirU)
      val before = rows(dirU)
      val fs = fsOf(dirU)
      val g = GenSwap.begin(spark, dirU)
      (100L until 110L).toDF("id").withColumn("k", lit("new"))
        .repartition(2).write.mode("overwrite").parquet(g.genDir)
      val genFiles = GenSwap.leaves(fs, new Path(g.genDir))
        .collect { case (rel, false) => rel }
      fs.mkdirs(g.old)
      val os = fs.create(new Path(g.old, "_ROOT_MANIFEST"), true)
      os.write(genFiles.mkString("\n").getBytes("UTF-8")); os.close()
      for (st <- fs.listStatus(new Path(dirU))
           if st.isFile && GenSwap.isDataName(st.getPath.getName))
        assert(fs.rename(st.getPath, new Path(g.old, st.getPath.getName)))
      for (rel <- genFiles)
        assert(fs.rename(new Path(g.genDir, rel), new Path(dirU, rel)))
      // crash here: move-in complete, deletes never ran
      GenSwap.recover(fs, new Path(dirU))
      assert(rows(dirU) === before, "rollback duplicated or lost rows")
      assert(!fs.listStatus(new Path(dirU))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dirU))
  }

  test("abort leaves the root untouched") {
    val dir = tmp("a")
    try {
      writePartitioned(dir, 0 until 10, _ => "g0")
      val before = rows(dir)
      val g = GenSwap.begin(spark, dir)
      (0 until 5).map(i => (i + 900L, "g0")).toDF("id", "k")
        .write.mode("overwrite").partitionBy("k").parquet(g.genDir)
      GenSwap.abort(g)
      assert(rows(dir) === before)
      assert(!fsOf(dir).listStatus(new Path(dir))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("concurrent reader never observes a mixed or half-rewritten leaf " +
      "across repeated swaps") {
    // generations are tagged in a column; a reader loop scans the dir
    // while commits replace both partitions repeatedly. The pinned
    // guarantee: every (partition, read) observes EXACTLY ONE generation
    // value — all-old or all-new, never a blend (the old dynamic
    // overwrite exposed partial file sets). Reads that race the sub-ms
    // rename window (absent leaf / vanished listed files) surface as
    // empty partitions or FileNotFound — both allowed and retried, per
    // the documented reader contract.
    val dir = tmp("c")
    try {
      def gen(i: Int) = (0 until 40)
        .map(j => (j.toLong, s"g${j % 2}", i)).toDF("id", "k", "generation")
      gen(0).repartition(2).write.mode("overwrite").partitionBy("k")
        .parquet(dir)
      val mixed = new java.util.concurrent.atomic.AtomicReference[String](null)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get() && mixed.get() == null) {
          try {
            val perLeaf = spark.read.parquet(dir)
              .groupBy("k").agg(countDistinct("generation").as("ng"),
                count(lit(1)).as("n"))
              .collect()
            perLeaf.foreach { r =>
              if (r.getLong(1) > 1)
                mixed.compareAndSet(null,
                  s"leaf ${r.getString(0)} mixed ${r.getLong(1)} generations")
              // a visible leaf must be a COMPLETE generation (20 rows)
              else if (r.getLong(2) != 20L)
                mixed.compareAndSet(null,
                  s"leaf ${r.getString(0)} partial: ${r.getLong(2)} rows")
            }
          } catch {
            // vanished files / listed-then-moved / mid-list races are the
            // documented retry-class failures — only DATA anomalies
            // (mixed or partial leaves, checked above) fail the spec
            case _: Exception => ()
          }
        }
      })
      reader.start()
      try {
        (1 to 12).foreach { i =>
          val g = GenSwap.begin(spark, dir)
          gen(i).repartition(2).write.mode("overwrite").partitionBy("k")
            .parquet(g.genDir)
          GenSwap.commit(g)
        }
      } finally { stop.set(true); reader.join(20000) }
      assert(mixed.get() == null, String.valueOf(mixed.get()))
      // final state: generation 12 everywhere
      val fin = spark.read.parquet(dir).select("generation").distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(fin === Seq(12))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("nested partition leaves swap at the deepest level") {
    val dir = tmp("n")
    try {
      Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"))
        .toDF("id", "p", "q")
        .repartition(1).write.mode("overwrite").partitionBy("p", "q")
        .parquet(dir)
      val g = GenSwap.begin(spark, dir)
      Seq((10L, "a", "x")).toDF("id", "p", "q")
        .repartition(1).write.mode("overwrite").partitionBy("p", "q")
        .parquet(g.genDir)
      GenSwap.commit(g)
      val got = spark.read.parquet(dir).select("id", "p", "q").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got === Set((10L, "a", "x"), (2L, "a", "y"), (3L, "b", "x")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("a crash after staging leaves the root byte-identical for every " +
      "staged rewrite; the rerun cleans up and equals the no-fault run") {
    import streaming.CdcStream
    final case class Writer(name: String, setup: String => Unit,
        run: String => Any, contents: String => Seq[String])
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val writers = Seq(
      Writer("CdcStream.sweepTombstones",
        dir => {
          def fold(rows: Seq[(String, String, String, Long, Double)]) =
            CdcStream.foldBatch(
              rows.toDF("table", "rid", "cdc_action", "seq", "value"), dir, 8)
          fold((1 to 20).map(i => ("t", s"k$i", "insert", i.toLong, i * 1.0)))
          fold((1 to 10).map(i => ("t", s"k$i", "delete", 100L + i, 0.0)))
        },
        dir => CdcStream.sweepTombstones(spark, dir, 200L),
        dir => sortedJson(CdcStream.readState(spark, dir))),
      Writer("VecIndex.remove",
        dir => operators.VecIndex.build(emb, dir, 4, 4, 8),
        dir => operators.VecIndex.remove(spark, dir,
          emb.filter(col("vec_id") < 30).select("vec_id")),
        dir => sortedJson(spark.read.parquet(s"$dir/codes"))),
      Writer("Lake.compact",
        dir => spark.read.parquet(s"$sf0001/documents.parquet")
          .select("doc_id", "lang", "n_chars").repartition(col("lang"))
          .write.mode("overwrite").option("maxRecordsPerFile", 25L)
          .partitionBy("lang").parquet(dir),
        dir => sources.Lake.compact(spark, dir, Seq("lang"), Seq("doc_id"),
          targetBytes = 32L * 1024 * 1024).collect().map(_.toString).toSeq
          .sorted,
        dir => sortedJson(spark.read.parquet(dir))))
    for (w <- writers) {
      val base = tmp("crash")
      try {
        val (crashed, clean) = (s"$base/crashed", s"$base/clean")
        w.setup(crashed)
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(crashed), new java.io.File(clean))
        val expected = (w.run(clean), w.contents(clean))
        val before = fileDigests(crashed)
        GenSwap.afterStageHook =
          () => throw new RuntimeException("injected crash after staging")
        try {
          val ex = intercept[RuntimeException](w.run(crashed))
          assert(ex.getMessage.contains("injected crash"), w.name)
        } finally GenSwap.afterStageHook = () => ()
        assert(fileDigests(crashed) === before,
          s"${w.name}: the crash mutated the root")
        val rerun = (w.run(crashed), w.contents(crashed))
        assert(stagingDirs(crashed) === Nil, s"${w.name}: staging residue")
        assert(rerun === expected, s"${w.name}: rerun != no-fault run")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }
}
