package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Metadata a publish records so later reads skip work: every
  * generation is read through its recorded `_SCHEMA` instead of
  * parquet schema inference, and the `_SIZE` ledger's row count comes
  * from the publish write's own observation instead of footer reads.
  * Both must report exactly what the skipped work would have: same
  * fields (order, types, nullability — a long partition column still
  * reads back int) and rows as an inferring read, same row count as
  * the footers. A merge and a feed step over it run no inference job.
  */
class LakeRecordedMetaSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_lakemeta").toString + "/lake"

  private def cleanup(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)

  private def fields(df: DataFrame): Seq[(String, DataType, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  /** A copy of the lake with every `_SCHEMA` removed: its reads infer. */
  private def withoutSchemas(root: String): String = {
    val copy = java.nio.file.Files
      .createTempDirectory("graft_lakemeta_inferred").toString + "/lake"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(copy))
    val it = org.apache.commons.io.FileUtils.iterateFiles(
      new java.io.File(copy), null, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getName == "_SCHEMA") f.delete(): Unit
    }
    copy
  }

  test("reads through _SCHEMA equal inferring reads: full, multi-owner " +
      "delta and additive-drift chains; a generation without _SCHEMA " +
      "still reads") {
    val root = tmp()
    var copy: String = null
    try {
      val schema = StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("bucket", LongType, nullable = false),
        StructField("text", StringType),
        StructField("score", DoubleType, nullable = false),
        StructField("tags", ArrayType(StringType))))
      val base = spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 30).map(j =>
          Row(s"d-$j", (j % 3).toLong, s"t $j", j * 0.5, Seq(s"a$j")))),
        schema)
      Lake.publishVersion(base, root, Seq("bucket"), Seq("id"), 1000L,
        keep = 100) // v0: full
      // v1: a delta adding a column in bucket 1 — owners v0 and v1
      Lake.publishDelta(base.filter(col("bucket") === 1)
          .withColumn("extra", lit("x")),
        root, Seq("bucket"), Seq("id"), 1000L, keep = 100)
      // v2: a merge carrying the new column into bucket 2
      val up = base.filter(col("bucket") === 2 && col("score") < 5)
        .withColumn("text", lit("edited")).withColumn("extra", lit("y"))
        .withColumn("op", lit("upsert"))
      Lake.mergeDelta(up, root, Seq("id"), Seq("bucket"), Seq("id"), 1000L,
        keep = 100)
      // v3: an all-delete merge emptying bucket 1 — v3 owns no files
      val wipe = (0 until 30).filter(_ % 3 == 1)
        .map(j => (s"d-$j", 1L, "delete")).toDF("id", "bucket", "op")
      Lake.mergeDelta(wipe, root, Seq("id"), Seq("bucket"), Seq("id"),
        1000L, keep = 100)
      copy = withoutSchemas(root)
      for (v <- 0L to 3L) {
        val recorded = Lake.readVersion(spark, root, Some(v))
        val inferred = Lake.readVersion(spark, copy, Some(v))
        assert(fields(recorded) === fields(inferred), s"v=$v fields")
        assert(recorded.schema("bucket").dataType === IntegerType,
          s"v=$v: partition column type must stay path-inferred")
        val cols = recorded.columns.toSeq.map(col)
        assert(recorded.select(cols: _*).collect().toSet ===
          inferred.select(cols: _*).collect().toSet, s"v=$v rows")
      }
      assert(Lake.readVersion(spark, root).columns.contains("extra"))
      assert(Lake.readVersion(spark, root).count() === 20L)
    } finally { cleanup(root); if (copy != null) cleanup(copy) }
  }

  test("_SIZE rows from the write's observation equal the footer count: " +
      "digest on and off, drop-mode quarantine, zOrder, delta and merge") {
    val root = tmp()
    try {
      val base = (0 until 60)
        .map(j => (s"d-$j", s"g${j % 3}", s"t $j", j, j * 7 % 13))
        .toDF("id", "k", "text", "n", "m")
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 7L,
        keep = 100, digest = true) // in-write digest map
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 7L,
        keep = 100) // count observation
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 7L, keep = 100,
        expect = Seq("small" -> (col("n") < 40)), onViolation = "drop")
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 7L, keep = 100,
        zOrderCols = Seq("n", "m"), digest = true) // footers
      Lake.publishDelta(base.filter(col("k") === "g1"), root, Seq("k"),
        Seq("id"), 7L, keep = 100)
      Lake.mergeDelta(Seq(("d-1", "g1", "x", 1, 1, "upsert"),
          ("d-2", "g2", null, 2, 2, "delete"))
          .toDF("id", "k", "text", "n", "m", "op"),
        root, Seq("id"), Seq("k"), Seq("id"), 7L, keep = 100, digest = true)
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val ledger = Lake.history(spark, root)
        .select("v", "n_rows", "n_files").collect()
      assert(ledger.length === 6)
      for (r <- ledger) {
        val v = r.getLong(0)
        val footers = graft.GenSwap.leaves(fs, new Path(root, s"v=$v"))
          .collect { case (rel, true) => rel }
          .map(rel => spark.read.parquet(s"$root/v=$v/$rel").count()).sum
        assert(r.getLong(1) === footers, s"v=$v: _SIZE rows vs footers")
      }
      assert(ledger.find(_.getLong(0) == 2L).get.getLong(1) === 40L)
    } finally cleanup(root)
  }

  test("no schema-inference job: mergeDelta and a one-step feed over its " +
      "generation read through the recorded _SCHEMA") {
    val root = tmp()
    def changes(rows: (String, String, String, String)*): DataFrame =
      rows.toDF("id", "k", "text", "op")
    def merge(ch: DataFrame): Long =
      Lake.mergeDelta(ch, root, Seq("id"), Seq("k"), Seq("id"), 1000L,
        keep = 100, digest = true)
    try {
      Lake.publishVersion(
        Seq("g0", "g1", "g2").flatMap(p =>
          (0 until 20).map(j => (s"$p-$j", p, s"base $p $j")))
          .toDF("id", "k", "text"),
        root, Seq("k"), Seq("id"), 1000L, keep = 100, digest = true) // v0
      merge(changes(("g0-1", "g0", "x", "upsert"))) // a delta base
      val ch = changes(("g1-1", "g1", "y", "upsert"),
        ("g2-2", "g2", null, "delete"))
      // an inference job is a `parquet at Lake.scala` call site (its
      // stages' name) outside any SQL execution — writes from Lake.scala
      // share the call-site form but carry an execution id
      val inference = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val inSql = Option(e.properties)
            .exists(_.getProperty("spark.sql.execution.id") != null)
          for (st <- e.stageInfos
               if st.name.startsWith("parquet at Lake.scala") && !inSql)
            inference.add(st.name): Unit
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val v = merge(ch)
        val feed = Lake.changesBetween(spark, root, v - 1, v, "id", "text")
          .collect()
        assert(feed.length === 2)
        Thread.sleep(500) // the listener bus is async
      } finally spark.sparkContext.removeSparkListener(l)
      assert(inference.isEmpty,
        s"schema-inference jobs ran: ${inference.toArray.mkString(", ")}")
    } finally cleanup(root)
  }
}
