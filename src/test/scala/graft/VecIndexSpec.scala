package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.operators.{Similarity, VecIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted vector-index lifecycle claims, proven across cycles
  * (the [[LshIndexSpec]] contract, transplanted to the ANN side):
  *
  *  1. probe-after-build is bitwise identical to the in-query
  *     [[Similarity.ivfPqTopK]] — the parquet round-trip of centroids,
  *     codebooks, and codes loses nothing;
  *  2. an append encodes ONLY the new batch (O(new) write volume) and
  *     settled code files are BYTE-IDENTICAL afterward;
  *  3. appended vectors are genuinely searchable: an appended duplicate
  *     of a query vector surfaces at rank 1 (its ADC distance is the
  *     quantization floor — ADC is asymmetric, so even an identical
  *     vector scores Σ‖residual − code‖², not 0);
  *  4. operations on a path not produced by [[VecIndex.build]] fail fast.
  */
class VecIndexSpec extends SparkSuite {

  private val C = 8; private val M = 8; private val K = 16

  private def emb: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  private def freshDir(): String =
    Files.createTempDirectory(SparkSuite.scratch, "graft_vecidx_spec")
      .toString

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def codeFiles(path: String): Map[String, String] = {
    val md = MessageDigest.getInstance("MD5")
    Files.walk(Paths.get(s"$path/codes")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        md.reset()
        p.toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  test("probe after build is bitwise identical to the in-query IVFADC") {
    val dir = freshDir()
    try {
      VecIndex.build(emb, dir, C, M, K)
      val probe = VecIndex.probe(
        spark, dir, emb.filter(col("vec_id") < 5), 3, nprobe = 2)
      val probed = rows(probe)
      val inQuery = rows(Similarity.ivfPqTopK(
        emb, C, M, K, col("vec_id") < 5, 3, nprobe = 2))
      assert(probed === inQuery)
      assert(probed.nonEmpty)
      // the storage payoff: the broadcast LUT join on the partition
      // column dynamically prunes the codes scan to probed cells — a
      // probe reads O(nprobe/c) of the codes table, enforced by layout
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"codes scan is not partition-pruned:\n${plan.take(3000)}")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("build with pretrained centOpt/cbOpt persists byte-identical " +
    "artifacts to a self-training build") {
    // the TrainedCache path: a session that already holds the trained
    // artifacts hands them to build() — the persisted index must be
    // indistinguishable from one that trained itself
    val d1 = freshDir(); val d2 = freshDir()
    try {
      VecIndex.build(emb, d1, C, M, K)
      val cent = Similarity.kmeansCentroids(emb, C, 2)
      val cb = Similarity.ivfPqCodebook(emb, cent, M, K)
      VecIndex.build(emb, d2, C, M, K, centOpt = Some(cent),
        cbOpt = Some(cb))
      // identical code files byte for byte (names differ by job UUID —
      // compare the multisets of content hashes)
      assert(codeFiles(d1).values.toSeq.sorted ===
        codeFiles(d2).values.toSeq.sorted)
      def artifact(p: String, sub: String) =
        spark.read.parquet(s"$p/$sub").collect()
          .map(_.toString).sorted.toSeq
      assert(artifact(d1, "centroids") === artifact(d2, "centroids"))
      assert(artifact(d1, "codebooks") === artifact(d2, "codebooks"))
      assert(rows(VecIndex.probe(spark, d1, emb.filter(col("vec_id") < 5),
        3, nprobe = 2)) ===
        rows(VecIndex.probe(spark, d2, emb.filter(col("vec_id") < 5),
          3, nprobe = 2)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d2))
    }
  }

  test("append: O(new) write volume, byte-identical settled files, " +
    "appended vectors searchable at distance 0") {
    val dir = freshDir()
    try {
      VecIndex.build(emb, dir, C, M, K)
      val before = codeFiles(dir)
      // the batch: exact copies of vectors 0..4 under fresh ids — their
      // residuals (same cell, same centroid) encode to the same codes as
      // the originals, so each copy scores the query's quantization
      // floor (the minimum any data vector can reach) and must rank 1
      val batch = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      VecIndex.append(spark, dir, batch)
      val after = codeFiles(dir)
      // settled history untouched, byte for byte
      before.foreach { case (f, h) =>
        assert(after.get(f) === Some(h), s"settled file rewritten: $f") }
      // the appended files hold exactly the batch's code rows: 5 vectors
      // × M subspaces — O(new), not a corpus rewrite
      val newFiles = (after.keySet -- before.keySet).toSeq
      assert(newFiles.nonEmpty)
      val appended = spark.read.parquet(newFiles: _*)
      assert(appended.count() === 5L * M)
      val appendedIds = appended.select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(appendedIds === (1000L until 1005L).toSet)
      // each original query now finds its appended copy at rank 1
      val probed = VecIndex.probe(
        spark, dir, emb.filter(col("vec_id") < 5), 3, nprobe = 2)
      val rank1 = probed.filter(col("rk") === 1).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      (0L until 5L).foreach { q =>
        assert(rank1(q)._1 === q + 1000L,
          s"query $q rank-1 is not its appended copy: ${rank1(q)}")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("remove: touched-cells-only rewrite, byte-identical settled cells, " +
    "annihilated cell dir dropped, absent ids a no-op") {
    val dir = freshDir()
    try {
      VecIndex.build(emb, dir, C, M, K)
      val before = codeFiles(dir)
      val codes0 = spark.read.parquet(s"$dir/codes")
      val all0 = codes0.collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
          r.getAs[Long]("code"), r.getAs[Int]("cid"))).toSet
      // victims: the FULL membership of one cell (it must annihilate)
      // plus two vectors from another (it must rewrite, not vanish)
      val byCell = all0.groupBy(_._4).view.mapValues(_.map(_._1)).toMap
      val annCell = byCell.minBy { case (_, ids) => (ids.size, 0) }._1
      val mixCell = byCell.keys.filter(_ != annCell).min
      val victims = byCell(annCell) ++ byCell(mixCell).toSeq.sorted.take(2)
      import spark.implicits._
      VecIndex.remove(spark, dir, victims.toSeq.toDF("vec_id"))
      // content = original minus victims, exactly
      val all1 = spark.read.parquet(s"$dir/codes").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
          r.getAs[Long]("code"), r.getAs[Int]("cid"))).toSet
      assert(all1 === all0.filterNot(t => victims.contains(t._1)))
      // the annihilated cell's directory is gone
      assert(!Files.exists(Paths.get(s"$dir/codes/cid=$annCell")))
      // settled cells (neither annihilated nor rewritten): byte-identical
      val after = codeFiles(dir)
      before.foreach { case (f, h) =>
        if (!f.contains(s"cid=$annCell") && !f.contains(s"cid=$mixCell"))
          assert(after.get(f) === Some(h), s"settled file touched: $f")
      }
      // probe never surfaces a victim
      val probed = VecIndex.probe(
        spark, dir, emb.filter(col("vec_id") < 5), 3, nprobe = 2)
      val hit = probed.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(hit.intersect(victims.map(identity)).isEmpty)
      // removing ids the index never held: a complete no-op
      VecIndex.remove(spark, dir, Seq(999999L, 888888L).toDF("vec_id"))
      assert(codeFiles(dir) === after)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("remove heals a crashed prior pass BEFORE planning: victims in an " +
      "evacuated cell are still removed, and an annihilated cell's drop " +
      "is covered by the commit") {
    import spark.implicits._
    val dir = freshDir()
    try {
      VecIndex.build(emb, dir, C, M, K)
      val codes0 = spark.read.parquet(s"$dir/codes")
        .select("vec_id", "cid").distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1))
      val byCell = codes0.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      // evacuate one multi-vector cell into .graft-old-* — the state a
      // crash between a prior remove's two commit renames leaves behind
      val crashCell = byCell.filter(_._2.length >= 2).keys.min
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/codes/.graft-old-x"))
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$dir/codes/cid=$crashCell"),
        new org.apache.hadoop.fs.Path(
          s"$dir/codes/.graft-old-x/cid=$crashCell")))
      // victims live in the evacuated cell: a pre-recovery plan would
      // not see them (silently skipping the removal)
      val victims = byCell(crashCell).sorted.take(1).toSeq
      VecIndex.remove(spark, dir, victims.toDF("vec_id"))
      val left = spark.read.parquet(s"$dir/codes")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(victims.forall(!left.contains(_)),
        "victims in the evacuated cell were silently skipped")
      assert(left === codes0.map(_._1).toSet -- victims)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/codes/.graft-old-x")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("copy → remove → probe equals one-shot build+remove+probe " +
      "(the gate's shared-index refresh shape)") {
    // sim_index_refresh amortizes the build by copying the shared session
    // index before removing — the copy must be a perfect stand-in for a
    // fresh build (parquet copy is byte-exact, remove/probe see no
    // difference)
    val base = freshDir()
    val copy = freshDir()
    try {
      VecIndex.build(emb, base, C, M, K)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(base), new java.io.File(copy))
      val victims = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 10)
      VecIndex.remove(spark, copy, victims.select("vec_id"))
      val viaCopy = rows(VecIndex.probe(
        spark, copy, emb.filter(col("vec_id") < 10), 5, nprobe = 2))
      val oneShot = rows(VecIndex.oneShotTopK(emb, C, M, K,
        col("vec_id") < 10, 5, nprobe = 2,
        removePred = Some(col("vec_id") % 7 === 3 && col("vec_id") >= 10)))
      assert(viaCopy === oneShot)
      // and the base index is untouched by the copy's delete cycle
      val baseProbe = rows(VecIndex.probe(
        spark, base, emb.filter(col("vec_id") < 10), 5, nprobe = 2))
      val fresh = rows(VecIndex.oneShotTopK(emb, C, M, K,
        col("vec_id") < 10, 5, nprobe = 2))
      assert(baseProbe === fresh)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy))
    }
  }

  test("append/probe to a path without index meta fail fast") {
    val dir = freshDir()
    try {
      val e1 = intercept[IllegalStateException] {
        VecIndex.append(spark, dir, emb.limit(1))
      }
      assert(e1.getMessage.contains("not built by VecIndex.build"))
      val e2 = intercept[IllegalStateException] {
        VecIndex.probe(spark, dir, emb.limit(1), 1)
      }
      assert(e2.getMessage.contains("not built by VecIndex.build"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
