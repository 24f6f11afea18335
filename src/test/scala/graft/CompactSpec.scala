package graft

import scala.util.Random
import Types._

/** The distributed compact (one hash exchange, a sort by (keys, seq,
  * action), and the CompactFold streaming pass) must equal the pure Scala
  * fold on arbitrary shuffled change logs — this pins the distributed
  * implementation to the reference semantics.
  */
class CompactSpec extends SparkSuite {

  /** (rid, action, seq, v, n) change rows → the pure model of compact:
    * per rid, fold in (seq, action) order; seq and payload from the last
    * change. `keepNone` keeps annihilated keys as `none` with NULL payload.
    */
  private def model(rows: Seq[(String, String, Long, String, Long)],
      keepNone: Boolean): Map[String, (String, Long, String, Any)] =
    rows.groupBy(_._1).flatMap { case (rid, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._2))
      val last = sorted.last
      Merge.foldActions(sorted.map(_._2)) match {
        case Some(a) => Some(rid -> ((a, last._3, last._4, last._5)))
        case None if keepNone => Some(rid -> ((None_, last._3, null, null)))
        case None => None
      }
    }

  test("exhaustive transitions: every action sequence up to length 6, " +
    "seq ties, and a hot key over every partition == pure fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val acts = Vector(Insert, Update, Delete)
    val seqs = (1 to 6).flatMap(n =>
      (0 until math.pow(3, n).toInt).map(i =>
        (0 until n).map(j => acts(i / math.pow(3, j).toInt % 3))))
    assert(seqs.size === 1092)
    var next = 0L
    def fresh(): Long = { next += 1; next }
    // one key per sequence, each change at its own seq
    val exhaustive = seqs.zipWithIndex.flatMap { case (as, k) =>
      as.map { a => val s = fresh(); (s"x$k", a, s, s"x$k@$s", s * 10) }
    }
    // seq ties: changes pair up on one seq and fold in action order (as
    // MergeActionAgg does); the payload is a function of (seq, action) so
    // an exact duplicate change cannot make the expected row ambiguous
    val ties = seqs.filter(_.size <= 4).zipWithIndex.flatMap { case (as, k) =>
      val base = fresh()
      next += as.size
      as.zipWithIndex.map { case (a, i) =>
        val s = base + i / 2
        (s"t$k", a, s, s"t$k@$s:$a", s * 10 + acts.indexOf(a))
      }
    }
    val rnd = new Random(99)
    val hot = (0 until 5000).map { _ =>
      val s = fresh(); ("hot", acts(rnd.nextInt(3)), s, s"hot@$s", s * 10)
    }
    val rows = exhaustive ++ ties ++ hot
    val parts = 6
    val df = spark.sparkContext.parallelize(rnd.shuffle(rows), parts)
      .toDF("rid", "cdc_action", "seq", "v", "n")
      .withColumn("table", lit("db.t"))
    assert(df.rdd.getNumPartitions === parts)
    // the hot key's changes really are spread over every input partition
    val hotParts = df.rdd.mapPartitions(it =>
      Iterator(it.count(_.getString(0) == "hot"))).collect()
    assert(hotParts.length === parts && hotParts.forall(_ > 0),
      hotParts.mkString(","))

    for (keepNone <- Seq(false, true)) {
      val got = Merge.compact(df, Seq("table", "rid"), keepNone = keepNone)
        .collect()
        .map(r => r.getAs[String]("rid") -> ((r.getAs[String]("cdc_action"),
          r.getAs[Long]("seq"), r.getAs[String]("v"), r.getAs[Any]("n"))))
      assert(got.length === got.map(_._1).distinct.length,
        s"keepNone=$keepNone: more than one row per key")
      val want = model(rows, keepNone)
      assert(got.toMap === want, s"keepNone=$keepNone")
      if (keepNone) {
        val none = got.filter(_._2._1 == None_)
        assert(none.nonEmpty)
        // none rows carry the key's high-water seq and a NULL payload
        val maxSeq = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).max }
        assert(none.forall { case (rid, (_, s, v, n)) =>
          s == maxSeq(rid) && v == null && n == null })
      }
    }
  }

  test("compacted frames self-join, and the child's constraints on the " +
    "action and a nulled payload do not leak past the fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = Merge.compact(CdcBatch.changeLog(spark, sf0001),
      Seq("table", "rid"), keepNone = true)
    val n = c.count()
    assert(c.as("l").join(c.as("r"), Seq("table", "rid"))
      .filter("l.cdc_action = r.cdc_action").count() === n)
    // below the fold no action is 'update' and v is never null; above it
    // delete+insert folds to update and insert+delete to a NULL-v none row
    val df = Seq(("a", Delete, 1L), ("a", Insert, 2L), ("b", Insert, 3L),
        ("b", Delete, 4L)).toDF("rid", "cdc_action", "seq")
      .withColumn("table", lit("db.t")).withColumn("v", lit(5))
      .filter(col("cdc_action") =!= Update && col("v").isNotNull)
    val out = Merge.compact(df, Seq("table", "rid"), keepNone = true)
    assert(out.filter(col("cdc_action") === Update)
      .select("rid").as[String].collect().toSeq === Seq("a"))
    assert(out.filter(col("v").isNull)
      .select("rid").as[String].collect().toSeq === Seq("b"))
  }

  test("declarative compact == pure fold on random shuffled changelog") {
    for (seed <- Seq(7, 42, 1234)) checkSeed(seed)
  }

  private def checkSeed(seed: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val acts = Vector(Insert, Update, Delete)
    val rows = (0L until 5000L).map { seq =>
      val rid = (rnd.nextInt(120)).toString
      (("db.t", rid, acts(rnd.nextInt(3)), 1000L + seq, seq, s"v$seq"))
    }
    val shuffled = rnd.shuffle(rows)
    val df = shuffled.toDF("table", "rid", "cdc_action", "cdc_ts", "seq", "v")

    val got = Merge.compact(df, Seq("table", "rid"))
      .collect()
      .map(r => (r.getString(1), (r.getString(2), r.getLong(3), r.getString(5))))
      .toMap

    // pure model: per rid, sort by seq, fold
    val want = rows.groupBy(_._2).flatMap { case (rid, rs) =>
      val sorted = rs.sortBy(_._5)
      val folded = Merge.foldActions(sorted.map(_._3))
      folded.map(a => rid -> ((a, sorted.last._5, sorted.last._6)))
    }

    assert(got === want)
    // annihilated keys truly absent
    assert(got.keySet === want.keySet)
  }

  test("compact drops annihilated keys and keeps latest payload") {
    import spark.implicits._
    val df = Seq(
      ("db.t", "a", Insert, 1L, 1L, "a1"),
      ("db.t", "a", Delete, 2L, 2L, "a2"),   // a annihilated
      ("db.t", "b", Insert, 1L, 3L, "b1"),
      ("db.t", "b", Update, 2L, 4L, "b2"),   // b stays insert, payload b2
      ("db.t", "c", Update, 1L, 5L, "c1"),
      ("db.t", "c", Delete, 2L, 6L, "c2")    // c net delete
    ).toDF("table", "rid", "cdc_action", "cdc_ts", "seq", "v")
    val out = Merge.compact(df, Seq("table", "rid")).collect()
      .map(r => r.getString(1) -> ((r.getString(2), r.getString(5)))).toMap
    assert(out === Map("b" -> ((Insert, "b2")), "c" -> ((Delete, "c2"))))
  }

  test("incremental view maintenance identity holds at any cutoff") {
    import org.apache.spark.sql.functions._
    val ch = CdcBatch.changeLog(spark, sf0001)
    // direct recompute of the view from the fully compacted log
    val direct = Merge.compact(ch, Seq("table", "rid"))
      .groupBy("table")
      .agg(count(lit(1)).as("n_live"),
        (sum(round(col("value") * 100, 0).cast("long")).cast("double")
          / 100.0).as("sum_value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val maxSeq = ch.agg(max("seq")).head().getLong(0)
    // cutoffs across the log, incl. degenerate ends: k=0 (everything is
    // suffix — pure recompute) and k=max (no suffix — pure base)
    for (frac <- Seq(0.0, 0.1, 0.5, 0.9, 1.0)) {
      val k = (maxSeq * frac).toLong
      val got = CdcBatch.incrementalLiveView(ch.withColumn("k", lit(k)))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got === direct, s"cutoff k=$k")
    }
  }
}
