package graft

import org.apache.spark.sql.DataFrame

/** The Materialize modes must be result-equivalent: `local` (default,
  * localCheckpoint), `reliable` (durable checkpoint — the cluster
  * deployment mode), and `none` (pure lineage). Pinned on the operators
  * that lean hardest on materialization: the iterative CC closure (a
  * per-round materialize), the multi-branch containment query, and the
  * IVF top-k (assignment table feeds both join sides).
  */
class MaterializeSpec extends SparkSuite {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def inMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Materialize.ModeKey, mode)
    try body finally spark.conf.unset(Materialize.ModeKey)
  }

  private def acrossModes(name: String): Unit = {
    val fn = SparkEntry.queries(name)
    val local = inMode("local") { rows(fn(spark, sf0001)) }
    val reliable = inMode("reliable") { rows(fn(spark, sf0001)) }
    val none = inMode("none") { rows(fn(spark, sf0001)) }
    assert(local.nonEmpty, s"$name returned no rows")
    assert(reliable === local, s"$name: reliable != local")
    assert(none === local, s"$name: none != local")
  }

  test("dedup_clusters equal across local/reliable/none") {
    acrossModes("dedup_clusters")
  }

  test("dedup_containment equal across local/reliable/none") {
    acrossModes("dedup_containment")
  }

  test("sim_ivf_topk equal across local/reliable/none") {
    acrossModes("sim_ivf_topk")
  }

  test("reliable mode writes durable checkpoint files") {
    inMode("reliable") {
      import org.apache.spark.sql.functions._
      Materialize(spark.range(10).toDF("x").withColumn("y", col("x") * 2))
        .count()
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "checkpoint dir not set by reliable mode")
      val p = new org.apache.hadoop.fs.Path(dir.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p) && fs.listStatus(p).nonEmpty,
        s"no checkpoint data under $dir")
    }
  }

  test("unknown mode is rejected") {
    inMode("bogus") {
      intercept[IllegalArgumentException] {
        Materialize(spark.range(1).toDF("x"))
      }
      // forced() must apply the SAME validation: a typo'd mode at a
      // forced-only call site would otherwise silently run as local
      intercept[IllegalArgumentException] {
        Materialize.forced(spark.range(1).toDF("x"))
      }
    }
  }

  test("scratch deletes its dir when the body throws") {
    var seen = ""
    intercept[IllegalStateException] {
      Materialize.scratch("graft_scratch_spec") { dir =>
        seen = dir
        spark.range(3).write.parquet(s"$dir/t")
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen.nonEmpty && !new java.io.File(seen).exists(),
      s"a throwing body left $seen behind")
  }

  test("scratch deletes its dir on success; the frame collects in none mode") {
    inMode("none") {
      var seen = ""
      val df = Materialize.scratch("graft_scratch_spec") { dir =>
        seen = dir
        spark.range(5).toDF("x").write.parquet(s"$dir/t")
        spark.read.parquet(s"$dir/t")
      }
      assert(!new java.io.File(seen).exists(), s"success left $seen behind")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    }
  }

  test("TrainedCache.memoDf refuses a nested memoDf, naming both keys") {
    import graft.operators.TrainedCache
    val err = intercept[IllegalStateException] {
      TrainedCache.memoDf(spark, "memo_spec|outer") {
        TrainedCache.memoDf(spark, "memo_spec|inner")(spark.range(1).toDF())
      }
    }
    assert(err.getMessage.contains("memo_spec|outer") &&
      err.getMessage.contains("memo_spec|inner"), err.getMessage)
    // the refused build cached nothing, and this thread builds again
    assert(TrainedCache.memoDf(spark, "memo_spec|outer")(
      spark.range(2).toDF()).count() === 2)
  }

  test("delete-after-materialize queries survive none mode (forced sites)") {
    // these queries delete their temp inputs (roundtrip dirs, dropped
    // bucketed tables) right after materializing — in `none` mode a plain
    // pass-through would leave lineage over deleted files and the first
    // action would throw FileNotFound. materializeForced() must sever
    // lineage in EVERY mode.
    for (name <- Seq("csv_roundtrip", "q30_bucket_join", "dedup_incremental",
        "cdc_state_sink", "lake_change_feed", "mm_binary_ingest")) {
      val none = inMode("none") {
        rows(SparkEntry.queries(name)(spark, sf0001))
      }
      val local = inMode("local") {
        rows(SparkEntry.queries(name)(spark, sf0001))
      }
      assert(none.nonEmpty, s"$name returned no rows in none mode")
      assert(none === local, s"$name: none != local")
    }
  }
}
