package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Delta-publishing contract: a delta generation physically holds ONLY
  * the partitions it rewrites and inherits the rest by reference — no
  * copy, no scan of the unchanged corpus — while the read/rollback/
  * retention surface behaves exactly as if every generation were full.
  * References are flattened to physical owners; retention keeps exactly
  * the ancestors reachable from retained generations.
  */
class LakeDeltaSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def corpus(tag: String, parts: Seq[String], rows: Int = 20) =
    parts.flatMap(p => (0 until rows)
      .map(j => (j.toLong, p, s"$tag $p $j")))
      .toDF("id", "k", "text")

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_lakedelta").toString + "/lake"

  private def readAll(root: String, v: Option[Long] = None): Set[(Long, String, String)] =
    Lake.readVersion(spark, root, v).select("id", "k", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def files(dir: String): Map[String, Long] = {
    val fs = fsOf(dir)
    if (!fs.exists(new Path(dir))) return Map.empty
    val it = fs.listFiles(new Path(dir), true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        b += (st.getPath.toString -> st.getModificationTime) }
    b.result()
  }

  test("delta publish: only changed partitions written; inherited ones " +
      "resolve byte-identical with zero copies; pinned base intact") {
    val root = tmp()
    try {
      val v0 = Lake.publishVersion(corpus("base", Seq("g0", "g1")), root,
        Seq("k"), Seq("id"), 1000L)
      assert(v0 === 0L)
      val base = readAll(root)
      val g0FilesBefore = files(s"$root/v=0/k=g0")
      assert(g0FilesBefore.nonEmpty)

      // delta rewrites g1 and adds g2 — g0 is inherited
      val v1 = Lake.publishDelta(corpus("new", Seq("g1", "g2")), root,
        Seq("k"), Seq("id"), 1000L)
      assert(v1 === 1L)
      // physical payload of v=1: g1 and g2 only, g0 nowhere inside it
      val fs = fsOf(root)
      assert(fs.exists(new Path(root, "v=1/k=g1")))
      assert(fs.exists(new Path(root, "v=1/k=g2")))
      assert(!fs.exists(new Path(root, "v=1/k=g0")),
        "inherited partition was copied into the delta generation")
      // logical read = base's g0 + the delta's g1 + g2
      val expected = base.filter(_._2 == "g0") ++
        readAll(root, Some(1L)).filter(t => t._2 == "g1" || t._2 == "g2")
      assert(readAll(root) === expected)
      assert(readAll(root).count(_._2 == "g1") === 20)
      assert(readAll(root).exists(_._3 == "new g1 0"))
      // the inherited files are v=0's very bytes — untouched in place
      assert(files(s"$root/v=0/k=g0") === g0FilesBefore)
      // pinned time travel to the full base still reads the original
      assert(readAll(root, Some(0L)) === base)
      // the ledger names the inheritance
      val h = Lake.history(spark, root).select("v", "n_refs", "n_rows")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(h(0L) === ((0L, 40L)))
      assert(h(1L) === ((1L, 40L))) // owns g1+g2 (40 rows), inherits g0
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("chained deltas flatten to physical owners; rollback lands on any " +
      "link; retention keeps exactly the reachable ancestors") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("base", Seq("g0", "g1", "g2")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2)
      Lake.publishDelta(corpus("d1", Seq("g1")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2)
      val v2 = Lake.publishDelta(corpus("d2", Seq("g2")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2)
      assert(v2 === 2L)
      // v2 inherits g0 from v0 (through v1's manifest, FLATTENED — the
      // owner named is the physical holder, not the previous delta)
      val cur = readAll(root)
      assert(cur.filter(_._2 == "g0").forall(_._3.startsWith("base")))
      assert(cur.filter(_._2 == "g1").forall(_._3.startsWith("d1")))
      assert(cur.filter(_._2 == "g2").forall(_._3.startsWith("d2")))
      // keep=2 retains v1,v2 — but v0 is still REFERENCED (g0 by both,
      // and v1's g1 rewrite still needs v0's g0/g2): it must survive
      val fs = fsOf(root)
      assert(fs.exists(new Path(root, "v=0")),
        "a referenced ancestor was pruned from under a retained delta")
      // rollback to the middle delta reads ITS resolution
      Lake.rollbackTo(spark, root, 1L)
      val atV1 = readAll(root)
      assert(atV1.filter(_._2 == "g1").forall(_._3.startsWith("d1")))
      assert(atV1.filter(_._2 == "g2").forall(_._3.startsWith("base")))
      Lake.rollbackTo(spark, root, 2L)

      // a FULL publish breaks the chain: once the horizon passes the
      // deltas, nothing references v0..v2 and they prune
      Lake.publishVersion(corpus("full", Seq("g0", "g1", "g2")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2) // v3
      Lake.publishVersion(corpus("full2", Seq("g0", "g1", "g2")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2) // v4: retains v3,v4
      val dirs = fs.listStatus(new Path(root))
        .filter(_.getPath.getName.startsWith("v="))
        .map(_.getPath.getName).sorted.toSeq
      assert(dirs === Seq("v=3", "v=4"), dirs.toString)
      assert(readAll(root).forall(_._3.startsWith("full2")))
      // a delta that outlived the horizon only as a donor (or was
      // pruned outright) fails a pinned read in the contract's words
      val e = intercept[IllegalStateException] {
        Lake.readVersion(spark, root, Some(1L)).count()
      }
      assert(e.getMessage.contains("pruned"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("publishDelta fails loudly without a base; a crashed delta is an " +
      "unpublished orphan the next publish cleans") {
    val root = tmp()
    try {
      val e = intercept[IllegalStateException] {
        Lake.publishDelta(corpus("d", Seq("g0")), root,
          Seq("k"), Seq("id"), 1000L)
      }
      assert(e.getMessage.contains("publish a full version first"))
      Lake.publishVersion(corpus("base", Seq("g0", "g1")), root,
        Seq("k"), Seq("id"), 1000L)
      // crash simulation: a delta that died after its layout write +
      // manifest but before the high-water flip
      val fs = fsOf(root)
      fs.mkdirs(new Path(root, "v=9/k=g0"))
      val os = fs.create(new Path(root, "v=9/_REFS"), true)
      os.write("k=g1\t0".getBytes("UTF-8")); os.close()
      // not published: pinned read refuses it
      intercept[IllegalStateException] {
        Lake.readVersion(spark, root, Some(9L))
      }
      val v1 = Lake.publishDelta(corpus("d", Seq("g1")), root,
        Seq("k"), Seq("id"), 1000L)
      assert(v1 === 1L)
      assert(!fs.exists(new Path(root, "v=9")))
      assert(readAll(root).filter(_._2 == "g1").forall(_._3.startsWith("d")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("a delta over an unpartitioned base is refused, naming the root; " +
      "the pointer and the base's rows are unchanged") {
    val root = tmp()
    try {
      val base = Seq((1L, "a", "a0"), (2L, "b", "b0"), (3L, "c", "c0"))
        .toDF("id", "k", "text")
      Lake.publishVersion(base, root, Nil, Seq("id"), 1000L)
      val change = Seq((1L, "a", "a1", "upsert")).toDF("id", "k", "text", "op")
      for (e <- Seq(
          intercept[IllegalStateException] {
            Lake.mergeDelta(change, root, Seq("id"), Seq("k"), Seq("id"),
              1000L)
          },
          intercept[IllegalStateException] {
            Lake.publishDelta(change.drop("op"), root, Seq("k"), Seq("id"),
              1000L)
          })) {
        assert(e.getMessage.contains(s"needs a partitioned base in $root"),
          e.getMessage)
        assert(Lake.currentVersion(spark, root) === Some(0L))
        assert(Lake.publishedHighWater(spark, root) === Some(0L))
        assert(readAll(root) === base.as[(Long, String, String)].collect().toSet)
      }
      assert(!fsOf(root).exists(new Path(root, "v=1")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("delta-mode publishBatch is exactly-once on batch id across " +
      "replay crash windows") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("base", Seq("g0", "g1")), root,
        Seq("k"), Seq("id"), 1000L) // v0
      def pub(tag: String, part: String, batchId: Long): Unit =
        Lake.publishBatch(corpus(tag, Seq(part)), root, Seq("k"),
          Seq("id"), 1000L, keep = 10, batchId = batchId, delta = true)
      pub("d0", "g1", batchId = 0L) // v1: g1 rewritten, g0 inherited
      assert(readAll(root).filter(_._2 == "g1").forall(_._3.startsWith("d0")))
      assert(readAll(root).filter(_._2 == "g0").forall(_._3.startsWith("base")))
      // plain replay: publishes nothing new, even with different data
      pub("dX", "g0", batchId = 0L)
      assert(Lake.publishedHighWater(spark, root).contains(1L))
      assert(readAll(root).filter(_._2 == "g0").forall(_._3.startsWith("base")))
      // between-flips crash: stamp landed at the high-water, pointer
      // didn't — the replay only re-points
      val fs = fsOf(root)
      val os = fs.create(new Path(root, "_CURRENT"), true)
      os.write("0".getBytes("UTF-8")); os.close()
      pub("dX", "g0", batchId = 0L)
      assert(Lake.currentVersion(spark, root).contains(1L))
      assert(Lake.publishedHighWater(spark, root).contains(1L))
      // the next batch deltas on top of the healed current
      pub("d1", "g0", batchId = 1L) // v2
      val cur = readAll(root)
      assert(cur.filter(_._2 == "g0").forall(_._3.startsWith("d1")))
      assert(cur.filter(_._2 == "g1").forall(_._3.startsWith("d0")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("additive schema drift across a delta chain reads with NULL fill " +
      "and keeps partition pruning on every branch") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("base", Seq("g0", "g1")), root,
        Seq("k"), Seq("id"), 1000L)
      // the delta adds a column the base lacks
      val wide = corpus("d", Seq("g1"))
        .withColumn("score", col("id").cast("double") / 10.0)
      Lake.publishDelta(wide, root, Seq("k"), Seq("id"), 1000L)
      val out = Lake.readVersion(spark, root)
      assert(out.columns.toSet === Set("id", "k", "text", "score"))
      val byK = out.groupBy("k")
        .agg(count(lit(1)).as("n"), count(col("score")).as("ns"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(byK === Map("g0" -> ((20L, 0L)), "g1" -> ((20L, 20L))))
      // partition pruning survives the union: a k=g1 filter must not
      // read the inherited branch's files
      val pruned = out.filter(col("k") === "g1")
      val scans = pruned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(pruned.count() === 20L)
      assert(!scans.contains("v=0") || scans.contains("PartitionFilters"),
        s"inherited branch not partition-prunable:\n${scans.take(2000)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }
}
