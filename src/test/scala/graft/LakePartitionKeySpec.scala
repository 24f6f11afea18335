package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lake's one partition key is the partition dir's relative path —
  * the string the writer names the dir with (`Cast(v, string)` in the
  * session time zone, Hive-escaped). Pinned here, on partition values
  * whose typed form renders differently from the dir name or whose
  * rendering depends on the session:
  *  - a merge into a timestamp-partitioned lake under a non-UTC session
  *    time zone keeps every untouched key of the touched partition;
  *  - `compact` of a `p=05` dir rewrites it in place: fewer files, the
  *    same dir name, the same rows;
  *  - a `probeMovers` merge over `p=05`/`p=07` leaves every key exactly
  *    once, also under Hive-escaped dir names;
  *  - the in-write `_DIGEST` of date, timestamp, double and decimal
  *    partitions and of a zOrder publish equals the read-back
  *    recompute ([[DigestReference]]), is keyed exactly by the
  *    generation's leaf dirs, and no job runs after the write.
  */
class LakePartitionKeySpec extends SparkSuite {
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp() = java.nio.file.Files
    .createTempDirectory(SparkSuite.scratch, "graft_lakekey").toString + "/lake"

  private def cleanup(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)

  /** A session time zone other than the JVM's, so a rendering that
    * used the JVM zone would show. */
  private val otherZone =
    if (java.util.TimeZone.getDefault.getID == "America/Los_Angeles")
      "Asia/Kolkata"
    else "America/Los_Angeles"

  private def inZone[A](tz: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, prior)
  }

  private def ids(df: DataFrame): Seq[(String, String)] =
    df.select("id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("a merge into a timestamp-partitioned lake under a non-UTC " +
      "session time zone keeps every untouched key of the touched " +
      "partition") {
    val root = tmp()
    try inZone(otherZone) {
      val t1 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-03-02 10:00:00")
      Lake.publishVersion(Seq(("a", t1, "a0"), ("b", t1, "b0"),
          ("c", t2, "c0")).toDF("id", "p", "text"),
        root, Seq("p"), Seq("id"), 1000L)
      Lake.mergeDelta(Seq(("a", t1, "a1", "upsert"))
          .toDF("id", "p", "text", "op"),
        root, Seq("id"), Seq("p"), Seq("id"), 1000L)
      assert(ids(Lake.readVersion(spark, root)) ===
        Seq(("a", "a1"), ("b", "b0"), ("c", "c0")))
      // the touched dir was replaced, not duplicated beside itself
      assert(GenSwap.leaves(fsOf(root), new Path(root, "v=1"))
        .collect { case (rel, true) => rel }.size === 1)
    } finally cleanup(root)
  }

  test("compact of a p=05 dir drops its files and keeps its dir name " +
      "and rows") {
    val out = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_lakekey_cpt").toString
    try {
      val df = (0 until 20).map(j => (j.toLong, "05", s"t $j")) ++
        Seq((100L, "07", "t 100"))
      df.toDF("id", "p", "text").repartition(20)
        .write.mode("overwrite").option("maxRecordsPerFile", 1L)
        .partitionBy("p").parquet(out)
      def parquets(d: String): Int =
        new java.io.File(s"$out/$d").listFiles()
          .count(_.getName.endsWith(".parquet"))
      assert(parquets("p=05") === 20)
      val r = Lake.compact(spark, out, Seq("p"), Seq("id"),
        targetBytes = 32L * 1024 * 1024).collect()
      assert(r.map(x => (x.getAs[String]("p"), x.getAs[String]("action")))
        .toSet === Set(("05", "compacted"), ("07", "kept")))
      assert(parquets("p=05") < 20)
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith(".")).toSet
      assert(dirs === Set("p=05", "p=07"))
      assert(spark.read.parquet(s"$out/p=05").select("id").as[Long]
        .collect().sorted.toSeq === (0L until 20L))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(out))
  }

  test("a probeMovers merge over p=05/p=07 leaves every key exactly " +
      "once, also under Hive-escaped dir names") {
    for ((from, to) <- Seq("05" -> "07", "x y%" -> "a=b/c")) {
      val root = tmp()
      try {
        Lake.publishVersion(Seq(("a", from, "a0"), ("b", from, "b0"),
            ("c", to, "c0")).toDF("id", "p", "text"),
          root, Seq("p"), Seq("id"), 1000L)
        // key a moves from `from` to `to`: the changelog names `to` only
        Lake.mergeDelta(Seq(("a", to, "a1", "upsert"))
            .toDF("id", "p", "text", "op"),
          root, Seq("id"), Seq("p"), Seq("id"), 1000L, probeMovers = true)
        assert(ids(Lake.readVersion(spark, root)) ===
          Seq(("a", "a1"), ("b", "b0"), ("c", "c0")), s"$from -> $to")
      } finally cleanup(root)
    }
  }

  /** For each job `body` starts, in order, the call site of the SQL
    * execution it runs in ("" outside SQL). AQE submits a query's jobs
    * from its own threads, so the execution's call site — not the
    * stage's — names the action. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sites.put(s.executionId, s.description): Unit
        case _ => ()
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .fold(-1L)(_.toLong))): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // the listener bus is async
    finally spark.sparkContext.removeSparkListener(l)
    jobs.toArray(Array.empty[(Int, Long)]).toSeq.sortBy(_._1)
      .map(j => Option(sites.get(j._2)).getOrElse(""))
  }

  private def digestOf(root: String, v: Long): String = {
    val in = fsOf(root).open(new Path(root, s"v=$v/_DIGEST"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Publish `df` with a digest; its `_DIGEST` must equal the read-back
    * recompute, be keyed by exactly the generation's leaf dirs, and the
    * write must be the publish's last job. */
  private def checkInWriteDigest(what: String, df: DataFrame,
      partitionCols: Seq[String], zOrderCols: Seq[String] = Nil): Unit = {
    val root = tmp()
    try {
      val jobs = jobsDuring {
        Lake.publishVersion(df, root, partitionCols, Seq("id"), 1000L,
          zOrderCols = zOrderCols, digest = true)
      }
      assert(jobs.nonEmpty && jobs.last.startsWith("parquet at Lake.scala"),
        s"$what: a job ran after the write: ${jobs.mkString(", ")}")
      val body = digestOf(root, 0L)
      assert(body === DigestReference.body(spark, root, 0L), what)
      val keys = body.linesIterator.drop(1).map(l =>
        java.net.URLDecoder.decode(l.split('\t')(2), "UTF-8")).toSet
      val leaves = GenSwap.leaves(fsOf(root), new Path(root, "v=0"))
        .collect { case (rel, true) => rel }.toSet
      assert(keys === leaves, what)
    } finally cleanup(root)
  }

  test("the in-write _DIGEST of date, timestamp, double and decimal " +
      "partitions equals the read-back recompute, is keyed by the leaf " +
      "dirs, and no job runs after the write") {
    val rows = (0 until 30).map(j => (s"d-$j", j % 3, s"t $j"))
      .toDF("id", "j", "text")
    inZone(otherZone) {
      checkInWriteDigest("date", rows.withColumn("p",
        date_add(lit("2024-02-28").cast("date"), col("j"))), Seq("p"))
      checkInWriteDigest("timestamp", rows.withColumn("p",
        (lit(1709287200L) + col("j") * 3601).cast("timestamp")), Seq("p"))
      checkInWriteDigest("double", rows.withColumn("p",
        when(col("j") === 0, lit(1.5)).when(col("j") === 1, lit(-0.25))
          .otherwise(lit(1e20))), Seq("p"))
      checkInWriteDigest("decimal", rows.withColumn("p",
        (col("j") + lit(0.5)).cast("decimal(6,2)")), Seq("p"))
    }
  }

  test("a zOrder publish's in-write _DIGEST equals the read-back " +
      "recompute, is keyed by the leaf dirs, and no job runs after the " +
      "write") {
    val rows = (0 until 60).map(j => (s"d-$j", s"g${j % 3}", j, j * 7 % 13))
      .toDF("id", "k", "n", "m")
    checkInWriteDigest("zOrder", rows, Seq("k"), zOrderCols = Seq("n", "m"))
  }
}
