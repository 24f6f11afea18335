package graft

import graft.sources.Debezium
import org.apache.spark.sql.functions._

/** Debezium envelope → canonical changelog → compact, end to end. */
class DebeziumSpec extends SparkSuite {

  private val pk = Map(
    "db_test.task" -> Seq("task_id"),
    "db_test.pair" -> Seq("a", "b")) // composite key table

  private def env(op: String, table: String, file: String, pos: Long,
      before: String, after: String): String =
    s"""{"op": "$op", "ts_ms": ${1465372800000L + pos},
       | "before": $before, "after": $after,
       | "source": {"db": "db_test", "table": "$table",
       |   "file": "mysql-bin.$file", "pos": $pos,
       |   "ts_ms": ${1465372800000L + pos}}}""".stripMargin.replace("\n", "")

  test("envelope parsing: op map, row image choice, rid, rotate-aware seq") {
    import spark.implicits._
    val raw = Seq(
      env("c", "task", "000001", 100, "null", """{"task_id": "1", "s": "new"}"""),
      env("u", "task", "000001", 200, """{"task_id": "1", "s": "new"}""",
        """{"task_id": "1", "s": "run"}"""),
      env("d", "task", "000002", 50, """{"task_id": "2", "s": "zap"}""", "null"),
      env("r", "pair", "000001", 10, "null", """{"a": "x", "b": "y", "v": "7"}"""),
      env("c", "unconfigured", "000001", 300, "null", """{"id": "9"}""")
    ).toDF("value")

    val ch = Debezium.changeLog(raw, pk).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(4)))
    // unconfigured table skipped (SaveIgnore semantics)
    assert(ch.length === 4)
    val actions = ch.groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).toSet).toMap
    assert(actions(("db_test.task", "1")) === Set("insert", "update")) // c, u
    assert(actions(("db_test.pair", "x&y")) === Set("insert")) // r → insert, '&' rid
    assert(actions(("db_test.task", "2")) === Set("delete"))
    // delete takes the BEFORE image
    val delPayload = Debezium.changeLog(raw, pk)
      .filter(col("rid") === "2").select("payload").head()
      .getMap[String, String](0)
    assert(delPayload("s") === "zap")
    // rotate: file 000002 sorts after any pos in file 000001
    val seqs = Debezium.changeLog(raw, pk)
      .filter(col("table") === "db_test.task")
      .orderBy("seq").select("rid", "cdc_action").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(seqs.last === (("2", "delete")))
  }

  test("envelope stream -> changeLog -> merged -> sink survives checkpoint restart") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.Ch
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_dbz").toString
    val state = s"$dir/state"
    val mem = MemoryStream[String]
    // deploy-time composition: Kafka-shaped value column -> envelope parse
    // -> canonical changelog -> keyed merge -> incremental state sink.
    // MemoryStream[String].toDF() presents the SAME contract as
    // Debezium.fromKafka's `CAST(value AS STRING)` projection — one string
    // `value` column — so this test covers everything downstream of the
    // source swap; fromKafka itself is compiled-not-run (no broker here).
    def src: Dataset[Ch] = Debezium.changeLog(mem.toDF(), pk)
      .select(col("table"), col("rid"), col("cdc_action"), col("cdc_ts"),
        col("seq"),
        coalesce(col("payload").getItem("v").cast("double"), lit(0.0)).as("value"),
        to_json(col("payload")).as("props"))
      .as[Ch]

    val q1 = CdcStream.run(spark, src, state, s"$dir/ckpt")
    mem.addData(
      env("c", "task", "000001", 1, "null", """{"task_id": "1", "v": "1.0"}"""),
      env("c", "task", "000001", 2, "null", """{"task_id": "2", "v": "2.0"}"""))
    q1.processAllAvailable()
    q1.stop() // "kill" the query; offsets + merge state live in the checkpoint

    val q2 = CdcStream.run(spark, src, state, s"$dir/ckpt")
    mem.addData(
      // task 1: delete annihilates ONLY if the insert state was recovered
      env("d", "task", "000002", 1, """{"task_id": "1", "v": "1.0"}""", "null"),
      env("u", "task", "000002", 2, "null", """{"task_id": "2", "v": "9.0"}"""))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(state)
      .select("rid", "cdc_action", "value").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rows.keySet === Set("2")) // task 1 annihilated across the restart
    assert(rows("2") === (("insert", 9.0))) // insert+update folds to insert
  }

  test("debezium changelog feeds compact: net state is correct") {
    import spark.implicits._
    val raw = Seq(
      env("c", "task", "000001", 1, "null", """{"task_id": "1", "s": "a"}"""),
      env("u", "task", "000001", 2, "null", """{"task_id": "1", "s": "b"}"""),
      env("c", "task", "000001", 3, "null", """{"task_id": "2", "s": "c"}"""),
      env("d", "task", "000001", 4, """{"task_id": "2", "s": "c"}""", "null")
    ).toDF("value")
    val state = Merge.compact(
        Debezium.changeLog(raw, pk), Seq("table", "rid"))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    // task 1: insert+update → insert; task 2: insert+delete → annihilated
    assert(state === Map("1" -> "insert"))
  }
}
