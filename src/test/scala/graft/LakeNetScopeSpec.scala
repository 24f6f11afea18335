package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A merge generation keeps its net change set: [[Lake.mergeDelta]]
  * writes the netted changelog once, stages it at `_NET.staging`, and
  * the commit moves it into the generation as `_NET` (with the base
  * version the merge read) before the high-water flip. The feed step
  * from that base is then key-scoped to `_NET`'s keys. Pinned here:
  *  - the scoped step equals the full [[Lake.diffVersions]] diff, row
  *    for row, across key shapes, quarantine, movers, deletes, empty
  *    changelogs, compaction and rollback — and the step across a
  *    rollback stays unscoped;
  *  - a merge that dies in either of the sidecar's crash windows leaves
  *    the pointers and every retained generation byte-identical, and the
  *    next merge cleans up and equals a no-fault run;
  *  - the merge runs no checkpoint job and no separate touched-partition
  *    collect, and the scoped step shuffles at most both sides' net keys.
  */
class LakeNetScopeSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp() = java.nio.file.Files
    .createTempDirectory(SparkSuite.scratch, "graft_lakenet").toString + "/lake"

  private def cleanup(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)

  private def corpus(parts: Seq[String], rows: Int = 40): DataFrame =
    parts.flatMap(p => (0 until rows).map(j => (s"$p-$j", p, s"base $p $j")))
      .toDF("id", "k", "text")

  private def changes(rows: (String, String, String, String)*): DataFrame =
    rows.toDF("id", "k", "text", "op")

  private def merge(root: String, ch: DataFrame, pk: Seq[String] = Seq("id"),
      probeMovers: Boolean = false, expect: Seq[(String, Column)] = Nil)
      : Long =
    Lake.mergeDelta(ch, root, pk, Seq("k"), Seq("id"), 1000L, keep = 100,
      probeMovers = probeMovers, digest = true, expect = expect,
      onViolation = "drop")

  private def feedRows(df: DataFrame): Seq[String] =
    df.select("v", "id", "change", "old_hash", "new_hash").collect()
      .map(_.toString).toSeq.sorted

  /** Whether the step's plan reads generation `v`'s `_NET`. */
  private def scoped(root: String, v: Long): Boolean =
    Lake.changesBetween(spark, root, v - 1, v, "id", "text").inputFiles
      .exists(_.contains(s"v=$v/_NET/"))

  /** Every step in (from, to] equals the full diff labeled with its
    * version, row for row. */
  private def assertStepsEqualDiff(root: String, from: Long, to: Long)
      : Unit =
    for (v <- (from + 1) to to)
      assert(feedRows(Lake.changesBetween(spark, root, v - 1, v, "id", "text"))
        === feedRows(Lake.diffVersions(spark, root, v - 1, v, "id", "text")
          .withColumn("v", lit(v))), s"step ${v - 1} -> $v")

  private def netRecord(root: String, v: Long): Seq[String] =
    scala.io.Source.fromFile(s"$root/v=$v/_NET/_BASE").getLines().toSeq

  test("every merged generation holds _NET and its base record; the " +
      "scoped step equals the full diff for a single and a two-column " +
      "key, an all-delete merge and an empty changelog") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus(Seq("g0", "g1", "g2")), root, Seq("k"),
        Seq("id"), 1000L, keep = 100, digest = true) // v0
      val v1 = merge(root, changes(("g0-1", "g0", "edited", "upsert"),
        ("g1-2", "g1", null, "delete"), ("g2-new", "g2", "born", "upsert")))
      // two-column key, the feed keyed on one of the two
      val v2 = merge(root, changes(("g1-3", "g1", "again", "upsert"),
        ("g2-4", "g2", null, "delete")), pk = Seq("id", "k"))
      // all-delete: g0 loses every row and its dir
      val v3 = merge(root, changes((0 until 40)
        .map(j => (s"g0-$j", "g0", null: String, "delete")): _*))
      val v4 = merge(root, changes()) // empty changelog
      assert(Seq(v1, v2, v3, v4) === Seq(1L, 2L, 3L, 4L))
      for (v <- 1L to 4L) {
        assert(fsOf(root).exists(new Path(root, s"v=$v/_NET")), s"v=$v _NET")
        assert(netRecord(root, v).head === (v - 1).toString, s"v=$v base")
      }
      assert(netRecord(root, 2L).tail === Seq("id", "k"))
      assertStepsEqualDiff(root, 0L, 4L)
      for (v <- 1L to 3L) assert(scoped(root, v), s"step into v=$v unscoped")
      assert(Lake.changesBetween(spark, root, 2L, 3L, "id", "text").count()
        === 40L)
      assert(!fsOf(root).exists(new Path(root, "_NET.staging")))
      // _NET is part of the generation: readers never see it
      assert(Lake.readVersion(spark, root).count() === 79L)
    } finally cleanup(root)
  }

  test("scoped steps equal the full diff around drop-mode quarantine, a " +
      "probeMovers move and a compact between merges") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus(Seq("g0", "g1")), root, Seq("k"),
        Seq("id"), 1000L, keep = 100, digest = true) // v0
      // drop mode quarantines g0's SURVIVORS ending in 7 too: keys
      // outside _NET leave the generation, so the step stays unscoped
      val v1 = merge(root, changes(("g0-1", "g0", "edited", "upsert")),
        expect = Seq("no7" -> !col("text").endsWith("7")))
      assert(Lake.readVersion(spark, root).filter(col("k") === "g0")
        .count() === 36L)
      assert(!scoped(root, v1))
      // a key moving g0 -> g1, found by the holders probe
      val v2 = merge(root, changes(("g0-2", "g1", "moved", "upsert")),
        probeMovers = true)
      assert(Lake.readVersion(spark, root).filter(col("id") === "g0-2")
        .select("k").as[String].collect().toSeq === Seq("g1"))
      Lake.guarded(spark, root) {
        Lake.compact(spark, s"$root/v=$v2", Seq("k"), Seq("id"),
          targetBytes = 256L).collect()
      }
      val v3 = merge(root, changes(("g1-5", "g1", "after compact", "upsert"),
        ("g0-3", "g0", null, "delete")))
      Lake.guarded(spark, root) {
        Lake.compact(spark, s"$root/v=$v3", Seq("k"), Seq("id"),
          targetBytes = 256L).collect()
      }
      assert(fsOf(root).exists(new Path(root, s"v=$v3/_NET")),
        "compact must keep the generation's _NET")
      assertStepsEqualDiff(root, 0L, v3)
      assert(scoped(root, v2) && scoped(root, v3))
    } finally cleanup(root)
  }

  test("a null id in a touched partition: the diff never pairs it, and " +
      "the scoped step keeps it on both sides too") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus(Seq("g0", "g1")).unionByName(
          Seq((null: String, "g0", "nameless")).toDF("id", "k", "text")),
        root, Seq("k"), Seq("id"), 1000L, keep = 100, digest = true) // v0
      val v1 = merge(root, changes(("g0-1", "g0", "edited", "upsert")))
      assert(scoped(root, v1))
      assertStepsEqualDiff(root, 0L, v1)
      assert(Lake.changesBetween(spark, root, 0L, v1, "id", "text")
        .filter(col("id").isNull).count() === 2L)
    } finally cleanup(root)
  }

  test("rollback then merge: the step across the rollback stays unscoped " +
      "and equals the full diff") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus(Seq("g0", "g1")), root, Seq("k"),
        Seq("id"), 1000L, keep = 100, digest = true) // v0
      merge(root, changes(("g0-1", "g0", "one", "upsert"))) // v1
      merge(root, changes(("g0-2", "g0", "two", "upsert"),
        ("g1-2", "g1", null, "delete"))) // v2
      Lake.rollbackTo(spark, root, 1L)
      // v3 merges on v1: v2's changes are reverted in v3, and only the
      // full diff names them
      val v3 = merge(root, changes(("g0-3", "g0", "three", "upsert")))
      assert(v3 === 3L && netRecord(root, 3L).head === "1")
      assertStepsEqualDiff(root, 0L, 3L)
      assert(!scoped(root, 3L))
      assert(feedRows(Lake.changesBetween(spark, root, 2L, 3L, "id", "text"))
        .size === 3)
    } finally cleanup(root)
  }

  /** Path -> md5 of every file under `root`, except what `skip` names. */
  private def fileDigests(root: String, skip: String => Boolean)
      : Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString).filterNot(skip)
        .map(rel => rel -> org.apache.commons.codec.digest.DigestUtils
          .md5Hex(java.nio.file.Files.readAllBytes(base.resolve(rel))))
        .toMap
    } finally s.close()
  }

  test("a merge dying after the staged write or after the _NET move " +
      "leaves pointers and generations byte-identical; the next merge " +
      "cleans up and equals a no-fault run") {
    for (window <- Seq("staged", "moved")) {
      val root = tmp()
      val twin = tmp()
      try {
        Lake.publishVersion(corpus(Seq("g0", "g1")), root, Seq("k"),
          Seq("id"), 1000L, keep = 100, digest = true) // v0
        merge(root, changes(("g0-1", "g0", "one", "upsert"))) // v1
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(root), new java.io.File(twin))
        val ch = changes(("g0-2", "g0", "two", "upsert"),
          ("g1-3", "g1", null, "delete"), ("g1-new", "g1", "born", "upsert"))
        val residue = (rel: String) => rel.startsWith("_NET.staging") ||
          rel.startsWith("v=2") || rel.startsWith("_LOCK") ||
          rel.startsWith("._LOCK")
        val before = fileDigests(root, residue)
        Lake.netCrashHook = w =>
          if (w == window) throw new RuntimeException(s"injected crash: $w")
        try {
          val ex = intercept[RuntimeException](merge(root, ch))
          assert(ex.getMessage.contains("injected crash"), window)
        } finally Lake.netCrashHook = _ => ()
        val fs = fsOf(root)
        assert(fs.exists(new Path(root,
          if (window == "staged") "_NET.staging" else "v=2/_NET")), window)
        assert(Lake.currentVersion(spark, root) === Some(1L), window)
        assert(Lake.publishedHighWater(spark, root) === Some(1L), window)
        assert(fileDigests(root, residue) === before,
          s"$window: the crash mutated pointers or a retained generation")
        val v = merge(root, ch)
        assert(v === merge(twin, ch), window)
        assert(!fs.exists(new Path(root, "_NET.staging")), window)
        assert(fs.listStatus(new Path(root)).map(_.getPath.getName)
          .filter(_.startsWith("v=")).sorted.toSeq ===
          Seq("v=0", "v=1", "v=2"), s"$window: orphan generation")
        def rows(r: String) = Lake.readVersion(spark, r)
          .select("id", "k", "text").collect().map(_.toString).toSeq.sorted
        assert(rows(root) === rows(twin), window)
        assert(feedRows(Lake.changesBetween(spark, root, 1L, 2L, "id", "text"))
          === feedRows(Lake.changesBetween(spark, twin, 1L, 2L, "id", "text")),
          window)
        assert(netRecord(root, 2L) === netRecord(twin, 2L), window)
      } finally { cleanup(root); cleanup(twin) }
    }
  }

  test("jobs and shuffle: a merge's only actions are its two writes (no " +
      "checkpoint, no separate touched-partition collect); the scoped " +
      "step shuffles at most twice the _NET rows") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus(Seq("g0", "g1", "g2"), rows = 300), root,
        Seq("k"), Seq("id"), 1000L, keep = 100, digest = true) // v0
      // the SQL action behind each query: "command" for a write,
      // "localCheckpoint" or "collect" for what the merge must not run
      val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val qel = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = actions.add(f): Unit
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = actions.add(f): Unit
      }
      val shuffled = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => shuffled.addAndGet(
            m.shuffleWriteMetrics.recordsWritten))
      }
      spark.listenerManager.register(qel)
      val v = try merge(root, changes((0 until 3).flatMap(p => Seq(
          (s"g$p-1", s"g$p", "edited", "upsert"),
          (s"g$p-2", s"g$p", null, "delete"))): _*))
        finally { Thread.sleep(500); spark.listenerManager.unregister(qel) }
      assert(actions.toArray.toSeq === Seq("command", "command"),
        "the merge's actions")
      val netRows = spark.read.parquet(s"$root/v=$v/_NET").count()
      assert(netRows === 6L)
      assert(scoped(root, v))
      spark.sparkContext.addSparkListener(l)
      try {
        assert(Lake.changesBetween(spark, root, v - 1, v, "id", "text")
          .collect().length === 6)
        Thread.sleep(500) // the listener bus is async
      } finally spark.sparkContext.removeSparkListener(l)
      assert(shuffled.get() <= 2 * netRows,
        s"scoped step shuffled ${shuffled.get()} records for $netRows keys")
    } finally cleanup(root)
  }
}
