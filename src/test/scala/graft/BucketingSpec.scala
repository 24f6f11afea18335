package graft

import org.apache.spark.sql.functions._

/** Bucketing = pre-shuffled storage: writing both fact tables bucketed by
  * the join key lets the join plan without ANY exchange — the co-located
  * join strategy for repeated 100 TB fact-fact joins (pay the shuffle once
  * at write time, never at read time).
  */
class BucketingSpec extends SparkSuite {

  test("bucketed-by-key tables join without a shuffle exchange") {
    val wh = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")

    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    spark.read.parquet(s"$sf0001/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").mode("overwrite").saveAsTable("o_b")

    // disable broadcast so the join would otherwise need a full shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(joined.count() === 6000L)

      // control: the same join over unbucketed parquet DOES shuffle
      val raw = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .join(spark.read.parquet(s"$sf0001/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
      assert(raw.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
