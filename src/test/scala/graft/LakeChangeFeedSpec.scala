package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-feed contract of the three readers — [[Lake.changesBetween]]
  * (one frame), [[Lake.changesBetweenPaged]] (lazy pages from the
  * caller's cursor) and [[Lake.followChanges]] (pages against a persisted
  * cursor): the feed emits one (v, key, change) row per change a version
  * introduced vs its predecessor; each step equals the full snapshot diff
  * of its two generations; the read side prices O(physically changed
  * partitions), not O(corpus); range validation fails loudly above the
  * high-water and across pruned generations; a cursor advances, reports
  * no-news, and catches DOWN across a rollback.
  */
class LakeChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def corpus(tag: String, parts: Seq[String], rows: Int = 20) =
    parts.flatMap(p => (0 until rows)
      .map(j => (s"$p-$j", p, s"$tag $p $j")))
      .toDF("id", "k", "text")

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_lakecdf").toString + "/lake"

  private type FeedRow =
    (Long, String, String, Option[String], Option[String])

  private def rows(df: DataFrame): Set[FeedRow] =
    df.collect().map(r => (r.getLong(r.fieldIndex("v")),
      r.getString(r.fieldIndex("id")),
      r.getString(r.fieldIndex("change")),
      Option(r.getString(r.fieldIndex("old_hash"))),
      Option(r.getString(r.fieldIndex("new_hash"))))).toSet

  private def cleanup(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)

  test("each feed step equals the full snapshot diff of its two " +
      "generations, labeled with the version that introduced it") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("base", Seq("g0", "g1", "g2")), root,
        Seq("k"), Seq("id"), 1000L) // v0
      // v1: delta rewriting g1 (one edit, one add) — g0/g2 inherited
      Lake.publishDelta(
        Seq(("g1-0", "g1", "edited"), ("g1-99", "g1", "born"))
          .toDF("id", "k", "text")
          .unionByName(corpus("base", Seq("g1")).filter(
            !col("id").isin("g1-0", "g1-99"))),
        root, Seq("k"), Seq("id"), 1000L) // v1
      // v2: merge deleting one g0 key and inserting a g3 partition
      Lake.mergeDelta(
        Seq(("g0-3", "g0", null, "delete"), ("g3-0", "g3", "new", "upsert"))
          .toDF("id", "k", "text", "op"),
        root, Seq("id"), Seq("k"), Seq("id"), 1000L) // v2

      val feed = rows(
        Lake.changesBetween(spark, root, 0L, 2L, "id", "text"))
      val expected =
        rows(Lake.diffVersions(spark, root, 0L, 1L, "id", "text")
          .withColumn("v", lit(1L))) ++
        rows(Lake.diffVersions(spark, root, 1L, 2L, "id", "text")
          .withColumn("v", lit(2L)))
      assert(feed === expected)
      // and the changes are the ones the edits imply
      assert(feed.map(t => (t._1, t._2, t._3)) === Set(
        (1L, "g1-0", "changed"), (1L, "g1-99", "added"),
        (2L, "g0-3", "removed"), (2L, "g3-0", "added")))
    } finally cleanup(root)
  }

  test("feed reads only the physically changed partitions: a heavy " +
      "inherited partition contributes zero bytes") {
    val root = tmp()
    try {
      val heavy = (0 until 20000).map(j =>
        (s"g1-$j", "g1", ("lorem ipsum " * 40) + j)).toDF("id", "k", "text")
      Lake.publishVersion(
        corpus("base", Seq("g0")).unionByName(heavy), root,
        Seq("k"), Seq("id"), 1000000L) // v0
      Lake.publishDelta(
        Seq(("g0-0", "g0", "edited")).toDF("id", "k", "text")
          .unionByName(corpus("base", Seq("g0"))
            .filter(col("id") =!= "g0-0")),
        root, Seq("k"), Seq("id"), 1000000L) // v1: touches g0 only
      val fs = fsOf(root)
      val g1Bytes = {
        val it = fs.listFiles(new Path(s"$root/v=0/k=g1"), true)
        var n = 0L
        while (it.hasNext) { val st = it.next(); n += st.getLen }
        n
      }
      val read = bytesReadDuring {
        Lake.changesBetween(spark, root, 0L, 1L, "id", "text")
          .collect(): Unit
      }
      assert(read < g1Bytes / 2,
        s"feed read $read bytes; inherited g1 holds $g1Bytes")
    } finally cleanup(root)
  }

  test("from == to is the empty feed; a to above the high-water and a " +
      "pruned step both fail in the contract's words") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("a", Seq("g0")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2) // v0
      Lake.publishVersion(corpus("b", Seq("g0")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2) // v1
      assert(Lake.changesBetween(spark, root, 1L, 1L, "id", "text")
        .count() === 0L)
      val over = intercept[IllegalStateException] {
        Lake.changesBetween(spark, root, 0L, 9L, "id", "text")
      }
      assert(over.getMessage.contains("never published"))
      Lake.publishVersion(corpus("c", Seq("g0")), root,
        Seq("k"), Seq("id"), 1000L, keep = 2) // v2 — prunes v0
      val pruned = intercept[IllegalStateException] {
        Lake.changesBetween(spark, root, 0L, 2L, "id", "text")
      }
      assert(pruned.getMessage.contains("retention"))
    } finally cleanup(root)
  }

  test("a cursor advances to the current version, reports no-news as " +
      "one empty page, and catches DOWN across a rollback with one " +
      "reverse page") {
    val root = tmp()
    val cursor = s"${new java.io.File(root).getParent}/cursor"
    try {
      Lake.publishVersion(corpus("a", Seq("g0")), root,
        Seq("k"), Seq("id"), 1000L) // v0
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("tail-from-now delivered a page") } === 0)
      Lake.publishDelta(
        Seq(("g0-0", "g0", "edited")).toDF("id", "k", "text")
          .unionByName(corpus("a", Seq("g0"))
            .filter(col("id") =!= "g0-0")),
        root, Seq("k"), Seq("id"), 1000L) // v1
      val (adv, advEnds) = Lake.changesBetweenPaged(spark, root, 0L, 1L,
        "id", "text").toSeq.unzip
      assert(adv.length === 1 && advEnds === Seq(1L))
      assert(rows(adv.head).map(t => (t._1, t._2, t._3)) ===
        Set((1L, "g0-0", "changed")))
      val delivered =
        scala.collection.mutable.ArrayBuffer[(Long, Set[FeedRow])]()
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => delivered += end -> rows(df) } === 1)
      assert(delivered.toSeq === Seq(1L -> rows(adv.head)))
      val none = Lake.changesBetweenPaged(spark, root, 1L, 1L, "id", "text")
        .toSeq
      assert(none.length === 1 && none.head._1.count() === 0L)
      assert(none.head._2 === 1L, "the from == to page ends at to")
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("caught-up consumer got a page") } === 0)
      Lake.rollbackTo(spark, root, 0L)
      val (down, downEnds) = Lake.changesBetweenPaged(spark, root, 1L, 0L,
        "id", "text").toSeq.unzip
      assert(down.length === 1 && downEnds === Seq(0L),
        "the rollback page ends at to")
      // the reverse page un-applies v1's edit: diffVersions(1, 0),
      // labeled with the rolled-back-to version the cursor lands on
      assert(rows(down.head) === rows(
        Lake.diffVersions(spark, root, 1L, 0L, "id", "text")
          .withColumn("v", lit(0L))))
      assert(rows(down.head).map(t => (t._1, t._2, t._3)) ===
        Set((0L, "g0-0", "changed")))
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => delivered += end -> rows(df) } === 1)
      assert(delivered.last === (0L -> rows(down.head)))
    } finally cleanup(root)
  }

  test("a partition-layout change between generations (repartitioned " +
      "full republish) feeds correctly — every dir differs, full diff") {
    val root = tmp()
    try {
      val base = (0 until 40).map(j => (s"d-$j", s"g${j % 2}",
        s"b${j % 4}", s"t $j")).toDF("id", "k", "bucket", "text")
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 1000L,
        keep = 10) // v0: partitioned by k
      Lake.publishVersion(
        base.withColumn("text",
          when(col("id") === "d-0", lit("edited")).otherwise(col("text"))),
        root, Seq("bucket"), Seq("id"), 1000L, keep = 10,
        schemaPolicy = "any") // v1: REPARTITIONED by bucket
      assert(rows(Lake.changesBetween(spark, root, 0L, 1L, "id", "text"))
        .map(t => (t._1, t._2, t._3)) === Set((1L, "d-0", "changed")))
    } finally cleanup(root)
  }

  test("physically identical consecutive generations (a re-publish of " +
      "nothing new via delta) yield an empty step, zero phantom changes") {
    val root = tmp()
    try {
      Lake.publishVersion(corpus("a", Seq("g0", "g1")), root,
        Seq("k"), Seq("id"), 1000L) // v0
      // a delta that rewrites g0 with IDENTICAL content: the dir differs
      // physically, so the step reads it — but emits no changes
      Lake.publishDelta(corpus("a", Seq("g0")), root,
        Seq("k"), Seq("id"), 1000L) // v1
      val feed = Lake.changesBetween(spark, root, 0L, 1L, "id", "text")
      assert(feed.count() === 0L)
    } finally cleanup(root)
  }

  test("followChanges: crash-safe standing consumer — tail-from-now " +
      "init, per-page cursor advance (a handler crash re-delivers only " +
      "that page), and a rollback catch-down moves the cursor DOWN") {
    val root = tmp()
    val cursor = s"${new java.io.File(root).getParent}/cursor"
    try {
      Lake.publishVersion(corpus("base", Seq("g0"), rows = 4), root,
        Seq("k"), Seq("id"), 1000L, keep = 30) // v0
      // first call with no cursor: tail from now, deliver nothing
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("tail-from-now delivered a page") } === 0)
      // 5 deltas land; page width 2 -> pages end at v2, v4, v5
      for (v <- 1 to 5)
        Lake.publishDelta(
          Seq((s"g0-${v % 4}", "g0", s"edit v$v")).toDF("id", "k", "text"),
          root, Seq("k"), Seq("id"), 1000L, keep = 30)
      // handler crashes on the SECOND page: cursor must sit at page 1's
      // end, and the retry must re-deliver pages 2..3 only
      val seenEnds = scala.collection.mutable.ArrayBuffer[Long]()
      intercept[RuntimeException] {
        Lake.followChanges(spark, root, cursor, "id", "text",
            maxPlanSteps = 2) { (df, end) =>
          if (end == 4L) throw new RuntimeException("consumer crash")
          assert(df.count() > 0)
          seenEnds += end
        }
      }
      assert(seenEnds.toSeq === Seq(2L))
      assert(Lake.followChanges(spark, root, cursor, "id", "text",
          maxPlanSteps = 2) { (df, end) =>
        assert(df.count() > 0); seenEnds += end } === 2)
      assert(seenEnds.toSeq === Seq(2L, 4L, 5L))
      // caught up: nothing more
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("caught-up consumer got a page") } === 0)
      // cursor crash window: a crash between the delete and the rename
      // leaves only cursor.tmp — the next call must ADOPT it (resume),
      // never re-init tail-from-now (which would skip the range)
      java.nio.file.Files.move(java.nio.file.Paths.get(cursor),
        java.nio.file.Paths.get(cursor + ".tmp"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Lake.publishDelta(
        Seq(("g0-0", "g0", "edit v6")).toDF("id", "k", "text"),
        root, Seq("k"), Seq("id"), 1000L, keep = 30) // v6
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => assert(end === 6L && df.count() > 0)
        seenEnds += end } === 1)
      assert(seenEnds.last === 6L)
      // rollback: one catch-down page, cursor moves DOWN with it
      Lake.rollbackTo(spark, root, 3L)
      var down = -1L
      var downRows = Set.empty[FeedRow]
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => down = end; downRows = rows(df) } === 1)
      assert(down === 3L && downRows.nonEmpty)
      // the catch-down page is the direct diff from the cursor's v6 to
      // the rolled-back-to v3, labeled 3
      assert(downRows === rows(
        Lake.diffVersions(spark, root, 6L, 3L, "id", "text")
          .withColumn("v", lit(3L))))
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("post-catch-down consumer got a page") } === 0)
    } finally {
      graft.Materialize.release(spark)
      cleanup(root)
    }
  }

  test("followChanges: a crash mid-INITIAL-cursor-write (unparseable " +
      "lone .tmp, no main file ever committed) falls through to " +
      "fresh-consumer init instead of poisoning every later call") {
    val root = tmp()
    val cursor = s"${new java.io.File(root).getParent}/cursor"
    try {
      Lake.publishVersion(corpus("base", Seq("g0"), rows = 4), root,
        Seq("k"), Seq("id"), 1000L, keep = 30) // v0
      // the crash artifact: a partial tmp that does not parse as a Long
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cursor + ".tmp"), "")
      // pre-r17 this adopted the empty tmp and every later call threw
      // NumberFormatException; now: discard, tail-from-now init
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("fresh init delivered a page") } === 0)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(cursor + ".tmp")))
      // the consumer is live: a new delta is delivered normally
      Lake.publishDelta(
        Seq(("g0-1", "g0", "edit v1")).toDF("id", "k", "text"),
        root, Seq("k"), Seq("id"), 1000L, keep = 30)
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => assert(end === 1L && df.count() > 0) } === 1)
      // a PARSEABLE lone tmp still adopts (the resume contract is
      // untouched): move the cursor aside as a tmp and expect no
      // re-init skip — the pending v2 is delivered from it
      java.nio.file.Files.move(java.nio.file.Paths.get(cursor),
        java.nio.file.Paths.get(cursor + ".tmp"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Lake.publishDelta(
        Seq(("g0-2", "g0", "edit v2")).toDF("id", "k", "text"),
        root, Seq("k"), Seq("id"), 1000L, keep = 30)
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (df, end) => assert(end === 2L && df.count() > 0) } === 1)
    } finally {
      graft.Materialize.release(spark)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(cursor))
      cleanup(root)
    }
  }

  test("long-range catch-up drains in bounded plan windows: the windowed " +
      "feed equals the one-plan feed, and its final plan holds only " +
      "materialized scans — no O(steps) live diff branches") {
    val root = tmp()
    val cursor = s"${new java.io.File(root).getParent}/cursor"
    try {
      Lake.publishVersion(corpus("base", Seq("g0"), rows = 4), root,
        Seq("k"), Seq("id"), 1000L) // v0
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("tail-from-now delivered a page") } === 0)
      // 18 delta steps, each touching its own key (keep = wide horizon)
      for (v <- 1 to 18)
        Lake.publishDelta(
          Seq((s"g0-${v % 4}", "g0", s"edit v$v")).toDF("id", "k", "text"),
          root, Seq("k"), Seq("id"), 1000L, keep = 30)
      val onePlan = Lake.changesBetween(spark, root, 0L, 18L,
        "id", "text", maxPlanSteps = 100)
      val windowed = Lake.changesBetween(spark, root, 0L, 18L,
        "id", "text", maxPlanSteps = 4)
      assert(rows(windowed) === rows(onePlan))
      assert(rows(windowed).nonEmpty)
      // plan shape: ceil(18/4) = 5 materialized window scans, and no
      // live file-scan branch survives into the returned plan
      val leaves = windowed.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.length === 5, windowed.queryExecution.optimizedPlan)
      assert(leaves.forall(_.nodeName.contains("LogicalRDD")),
        leaves.map(_.nodeName).mkString(", "))
      // and the one-plan form (cursor polling) keeps lazy file scans
      val lazyLeaves = onePlan.queryExecution.optimizedPlan.collectLeaves()
      assert(lazyLeaves.exists(!_.nodeName.contains("LogicalRDD")))
      // the bound is the MECHANISM, so it must hold in materialize=none
      // too (a pass-through there would silently bring the O(steps)
      // plan back — the forced() distinction)
      val mode = spark.conf.getOption("spark.graft.materialize")
      spark.conf.set("spark.graft.materialize", "none")
      try {
        val noneLeaves = Lake.changesBetween(spark, root, 0L, 18L,
            "id", "text", maxPlanSteps = 4)
          .queryExecution.optimizedPlan.collectLeaves()
        assert(noneLeaves.length === 5 &&
          noneLeaves.forall(_.nodeName.contains("LogicalRDD")),
          noneLeaves.map(_.nodeName).mkString(", "))
      } finally mode.fold(
        spark.conf.unset("spark.graft.materialize"))(
        spark.conf.set("spark.graft.materialize", _))
      // the persisted-cursor drain: the same pages, the cursor lands on
      // the current version, and a caught-up consumer gets nothing
      val followed = scala.collection.mutable.ArrayBuffer[Set[FeedRow]]()
      assert(Lake.followChanges(spark, root, cursor, "id", "text",
          maxPlanSteps = 4) { (df, _) => followed += rows(df) } === 5)
      assert(followed.reduce(_ ++ _) === rows(onePlan))
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(cursor)).trim === "18")
      assert(Lake.followChanges(spark, root, cursor, "id", "text") {
        (_, _) => fail("caught-up consumer got a page") } === 0)
      // paged drain: lazy bounded plans, nothing pinned — the DR shape.
      // Concatenated pages equal the one-plan feed; every page plan is
      // live (no materialized scans) and bounded
      val (pages, ends) = Lake.changesBetweenPaged(spark, root, 0L, 18L,
        "id", "text", maxPlanSteps = 4).toSeq.unzip
      assert(pages.length === 5)
      // each forward page ends at min(lo + maxPlanSteps, to)
      assert(ends === (0L until 18L by 4L).map(lo => math.min(lo + 4L, 18L)))
      assert(pages.map(rows).reduce(_ ++ _) === rows(onePlan))
      for (p <- pages) {
        val ls = p.queryExecution.optimizedPlan.collectLeaves()
        assert(ls.length <= 8 && ls.forall(
          !_.nodeName.contains("LogicalRDD")),
          ls.map(_.nodeName).mkString(", "))
      }
    } finally {
      graft.Materialize.release(spark)
      cleanup(root)
    }
  }
}
