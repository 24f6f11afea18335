package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-audit aid for INNER operators that gate queries hide behind a
  * materialized stage or a streaming drain (the gate-level `Explain`
  * shows only the final read-back plan there). Builds each operator on
  * a tiny synthetic input and prints `explain("formatted")` — the shape
  * is input-independent, which is all a plan audit needs.
  *
  * Usage: runMain graft.ExplainInner <name> [<name> ...]
  */
object ExplainInner {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // synthetic 8-dim embeddings + a 4-cell centroid table: enough to
    // resolve every expression; plan shape does not depend on size
    def emb = spark.range(32).select(col("id").as("vec_id"),
      array((0 until 8).map(i =>
        (pmod(col("id") * (i + 1), lit(13)).cast("double") / 13.0) - 0.5): _*)
        .as("embedding"))
    def cent = spark.range(4).select(col("id").as("cid"),
      array((0 until 8).map(i =>
        (pmod(col("id") * (i + 3), lit(11)).cast("double") / 11.0) - 0.5): _*)
        .as("cv"))
    val ops: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "streamsim_cellRows" ->
        (() => streaming.StreamSim.cellRows(emb, cent).toDF()),
      "streamsim_cellRows_mp" ->
        (() => streaming.StreamSim.cellRows(emb, cent, probes = 2).toDF()))
    args.foreach { n =>
      println(s"\n===== $n =====")
      ops.get(n) match {
        case Some(f) => f().explain("formatted")
        case None => println(s"unknown inner operator: $n")
      }
    }
    spark.stop()
  }
}
