package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._

/** Incremental compaction contract: data is preserved exactly, only
  * degenerate partitions are rewritten (settled files stay byte-identical
  * in place), the pass is idempotent, oversized files split into
  * range-disjoint ~target pieces, and Hive-escaped partition values round
  * trip through the path parser.
  */
class LakeCompactSpec extends SparkSuite {

  private def docs = spark.read
    .parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text", "lang", "source", "n_chars")

  /** (fileName -> (len, mtime)) for every parquet leaf under dir. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val b = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        b += (st.getPath.toString -> ((st.getLen, st.getModificationTime)))
    }
    b.result()
  }

  private def sortedRows(dir: String): Seq[String] =
    spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect()
      .map(_.mkString(""))
      .sorted
      .toSeq

  test("compact: fragmented dirs collapse, data exact, second pass no-op") {
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_cpt1").toString
    try {
      docs.repartition(col("lang"))
        .write.mode("overwrite").option("maxRecordsPerFile", 25L)
        .partitionBy("lang").parquet(out)
      val before = sortedRows(out)
      val fragmented = listing(out)
      assert(fragmented.size > 10, s"fixture not fragmented: ${fragmented.size}")

      val r1 = Lake.compact(spark, out, Seq("lang"), Seq("doc_id"),
        targetBytes = 32L * 1024 * 1024).collect()
      assert(r1.nonEmpty)
      assert(r1.forall(_.getAs[String]("action") == "compacted"))
      r1.foreach { row =>
        assert(row.getAs[Long]("files_after") < row.getAs[Long]("files_before"),
          row.toString)
      }
      // total bytes ≪ target → one rewrite task → exactly one file per lang
      val compacted = listing(out)
      assert(compacted.size === r1.length, compacted.keys.toString)
      assert(sortedRows(out) === before)

      // idempotence: second pass keeps every partition and moves no file
      val r2 = Lake.compact(spark, out, Seq("lang"), Seq("doc_id"),
        targetBytes = 32L * 1024 * 1024).collect()
      assert(r2.forall(_.getAs[String]("action") == "kept"), r2.mkString(";"))
      assert(listing(out) === compacted, "no-op pass touched files")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("compact: only degenerate partitions rewrite; settled files stay " +
      "byte-identical in place") {
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_cpt2").toString
    try {
      // settled corpus: everything except 'en', one file per lang
      docs.filter(col("lang") =!= "en").repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      val settled = listing(out)
      // then 'en' lands fragmented (a streaming sink's day of appends)
      docs.filter(col("lang") === "en").repartition(col("lang"))
        .write.mode("append").option("maxRecordsPerFile", 10L)
        .partitionBy("lang").parquet(out)
      val before = sortedRows(out)

      val r = Lake.compact(spark, out, Seq("lang"), Seq("doc_id"),
        targetBytes = 32L * 1024 * 1024).collect()
      val byLang = r.map(x => x.getAs[String]("lang") ->
        x.getAs[String]("action")).toMap
      assert(byLang("en") === "compacted")
      assert(byLang.filter(_._1 != "en").values.forall(_ == "kept"), byLang)

      // settled partitions: same paths, same sizes, same mtimes
      val after = listing(out)
      settled.foreach { case (path, meta) =>
        assert(after.get(path).contains(meta), s"settled file moved: $path")
      }
      assert(sortedRows(out) === before)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("compact: oversized file splits into range-disjoint ~target files") {
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_cpt3").toString
    try {
      docs.coalesce(1).write.mode("overwrite").parquet(out)
      val oneFile = listing(out)
      assert(oneFile.size === 1)
      val totalBytes = oneFile.values.map(_._1).sum
      val before = sortedRows(out)

      val r = Lake.compact(spark, out, Seq.empty, Seq("doc_id"),
        targetBytes = math.max(1L, totalBytes / 4)).collect()
      assert(r.length === 1 && r.head.getAs[String]("action") == "compacted")
      assert(r.head.getAs[Long]("files_after") >= 3, r.head.toString)
      assert(sortedRows(out) === before)

      // range-disjoint on the sort key: files ordered by min doc_id never
      // overlap — the zone-map layout a scan's predicate pushdown wants
      val ranges = spark.read.parquet(out)
        .select(col("doc_id"), input_file_name().as("f"))
        .groupBy("f")
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        .collect()
        .map(x => (x.getAs[Long]("lo"), x.getAs[Long]("hi")))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2, s"overlapping file ranges: $ranges")
        case _ =>
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("compact: escaped partition values round trip; nulls map to the " +
      "Hive default partition") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_cpt4").toString
    try {
      val df = Seq(
        (1L, "a b/c"), (2L, "a b/c"), (3L, "a b/c"), (4L, "plain"),
        (5L, null.asInstanceOf[String]))
        .toDF("id", "k")
      df.repartition(3)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1L).partitionBy("k").parquet(out)

      val r = Lake.compact(spark, out, Seq("k"), Seq("id"),
        targetBytes = 32L * 1024 * 1024).collect()
      val keys = r.map(_.getAs[String]("k")).toSet
      assert(keys === Set("a b/c", "plain", null),
        keys.map(String.valueOf).toString)
      val got = spark.read.parquet(out).select("id", "k").collect()
        .map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq
      assert(got === Seq((1L, "a b/c"), (2L, "a b/c"), (3L, "a b/c"),
        (4L, "plain"), (5L, null)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("compact: repeat-invariance under concurrent load — N stage/" +
      "compact/readback cycles agree exactly (battery conditions)") {
    // the round-13 driver gate caught lake_compact intermittently
    // hash-red ONLY under full-battery load: an integer aggregate read
    // back after compaction differed between runs. This pins the fix
    // (versioned generation + swap, no checkpoint feeding an overwrite of
    // its own source): repeated cycles in one JVM, with a background
    // thread keeping the scheduler and block manager busy, must produce
    // byte-identical aggregates every time.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val noise = new Thread(() => {
      val d = docs
      while (!stop.get()) {
        d.groupBy("lang").agg(sum(length(col("text"))))
          .collect() // shuffles + blocks churning concurrently
      }
    })
    noise.setDaemon(true)
    noise.start()
    try {
      def cycle(): Seq[String] = {
        val work = java.nio.file.Files
          .createTempDirectory(SparkSuite.scratch, "graft_cpt_rep").toString
        try {
          docs.repartition(col("lang"))
            .write.mode("overwrite").option("maxRecordsPerFile", 40L)
            .partitionBy("lang").parquet(work)
          Lake.compact(spark, work, Seq("lang"), Seq("doc_id"),
            targetBytes = 32L * 1024 * 1024)
          spark.read.parquet(work).groupBy("lang")
            .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("ids"),
              sum("n_chars").as("chars"), sum(length(col("text"))).as("len"),
              min("doc_id").as("lo"), max("doc_id").as("hi"))
            .collect().map(_.mkString("|")).sorted.toSeq
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(work))
      }
      val first = cycle()
      assert(first.nonEmpty)
      (1 to 4).foreach { i =>
        assert(cycle() === first, s"cycle $i diverged from cycle 0")
      }
    } finally {
      stop.set(true)
      noise.join(10000)
    }
  }

  test("compact: crashed prior pass heals on the next run") {
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_cpt5").toString
    try {
      docs.repartition(col("lang"))
        .write.mode("overwrite").option("maxRecordsPerFile", 25L)
        .partitionBy("lang").parquet(out)
      val before = sortedRows(out)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate a crash: a partition evacuated to an old dir but its
      // replacement never moved in, plus an orphaned generation dir
      val old = new org.apache.hadoop.fs.Path(out, ".graft-old-crashed")
      fs.mkdirs(old)
      val langDir = fs.listStatus(new org.apache.hadoop.fs.Path(out))
        .map(_.getPath).find(_.getName.startsWith("lang=")).get
      assert(fs.rename(langDir,
        new org.apache.hadoop.fs.Path(old, langDir.getName)))
      fs.mkdirs(new org.apache.hadoop.fs.Path(out, ".graft-gen-crashed"))

      val r = Lake.compact(spark, out, Seq("lang"), Seq("doc_id"),
        targetBytes = 32L * 1024 * 1024).collect()
      assert(r.nonEmpty)
      assert(sortedRows(out) === before, "recovery lost or duplicated rows")
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(out))
        .exists(_.getPath.getName.startsWith(".graft-")))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("unescapePartitionValue: percent decode, literal '+', tail '%'") {
    assert(Lake.unescapePartitionValue("a%20b") === Some("a b"))
    assert(Lake.unescapePartitionValue("a+b") === Some("a+b"))
    assert(Lake.unescapePartitionValue("a%2Fb") === Some("a/b"))
    assert(Lake.unescapePartitionValue("50%") === Some("50%"))
    assert(Lake.unescapePartitionValue("p%zz") === Some("p%zz"))
    assert(Lake.unescapePartitionValue("__HIVE_DEFAULT_PARTITION__") === None)
  }
}
