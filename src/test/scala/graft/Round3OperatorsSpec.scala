package graft

import graft.functions.GraftExtensions
import graft.operators.{Similarity, TextQueries}
import org.apache.spark.sql.functions._

/** Specs for the round-3 operator additions: bloom-filter runtime
  * pre-filtering, Z-order layout quality, signed-random-projection LSH,
  * PII redaction, mixture reweighting, and char-bigram fluency scoring.
  */
class Round3OperatorsSpec extends SparkSuite {

  test("bloom pre-filter: no false negatives, real pruning, exact result") {
    GraftExtensions.register(spark)
    import spark.implicits._
    (1L to 1000L).toDF("x").createOrReplaceTempView("bloom_probe_v")
    Seq(5L, 500L, 999L).toDF("k").createOrReplaceTempView("bloom_keys_v")
    val passed = spark.sql(
      """SELECT x FROM bloom_probe_v
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(k), 100L, 4000L) FROM bloom_keys_v),
        |  xxhash64(x))""".stripMargin)
      .as[Long].collect().toSet
    // every true key passes the filter (bloom guarantees no false negatives)
    assert(Set(5L, 500L, 999L).subsetOf(passed))
    // and the filter actually prunes (false-positive rate well under 100%)
    assert(passed.size < 200, s"bloom passed ${passed.size}/1000 rows")
    // the full query's exact semi-join removes the false positives
    val q = SparkEntry.queries("q25_bloom_join")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oracle = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .join(spark.read.parquet(s"$sf0001/orders.parquet")
          .filter(col("o_totalprice") > 300000.0).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q === oracle)
  }

  test("z-order buckets have tighter per-bucket spans than row order") {
    val out = SparkEntry.queries("q26_zorder")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    val (zx, zy) = out("zorder")
    val (nx, ny) = out("roworder")
    // the whole point of the layout: narrower ranges on BOTH dimensions
    // (sf0.001's supplier-key domain is only 0..9, so the y-side margin is
    // bounded by the domain, not the layout — strict inequality + a 2×
    // combined-area margin is the portable assertion)
    assert(zx < nx, s"zorder span_x $zx vs roworder $nx")
    assert(zy < ny, s"zorder span_y $zy vs roworder $ny")
    assert(zx + zy < (nx + ny) / 2,
      s"combined spans: zorder ${zx + zy} vs roworder ${nx + ny}")
  }

  test("rp-lsh pairs are a subset of brute-force near-dup pairs") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rp = Similarity.rpLshPairs(emb, bands = 4, bitsPerBand = 4,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rp.nonEmpty)
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val all = v.alias("l").join(v.alias("r"),
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id"), col("r.vec_id"),
        Similarity.cosine(col("l.v"), col("r.v")).as("sim"))
      .filter(col("sim") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rp.subsetOf(all)) // exact-cosine verify admits no false pairs
    // salted variant returns identical pairs
    val salted = Similarity.rpLshPairs(emb, 4, 4, 0.3, salts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === rp)
  }

  test("codegen HammingDistance == composed substring chain, plus edges") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorFunctions
    val pairs = Seq(
      ("0110100110010110", "0110100110010110"), // equal
      ("0110100110010110", "0110100110010111"), // 1 bit
      ("0000000000000000", "1111111111111111"), // all 16
      ("0101", "0101010101"),                   // unequal lengths
      ("", "101"))                              // empty side
      .toDF("a", "b")
    val chain = (1 to 16).map(j =>
      when(substring(col("a"), j, 1) =!= substring(col("b"), j, 1), 1)
        .otherwise(0)).reduce(_ + _)
    val rows = pairs.select(
      VectorFunctions.hamming(col("a"), col("b")).as("h"),
      chain.as("c"), length(col("a")).as("la"), length(col("b")).as("lb"))
      .collect()
    for (r <- rows.take(3)) // equal-length rows: must match the chain
      assert(r.getInt(0) === r.getInt(1))
    assert(rows(3).getInt(0) === 6)  // 0101 vs 0101010101: prefix 0 + len 6
    assert(rows(4).getInt(0) === 3)
    // SQL surface
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_hamming('0011', '0101') AS h")
      .head().getInt(0) === 2)
  }

  test("rpWeight is deterministic and bounded") {
    val w = for (j <- 0 until 16; d <- 0 until 64) yield Similarity.rpWeight(j, d)
    assert(w.forall(x => x >= -1.0 && x <= 1.0))
    assert(w.distinct.length > 500)              // spreads, not constant
    assert(Similarity.rpWeight(3, 7) === Similarity.rpWeight(3, 7))
  }

  test("redaction leaves no live PII pattern behind") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "hello bob@mail.com and call 555-1234 now"),
      (2L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
    val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phoneRe = "555-[0-9]{4}"
    val red = dirty.select(regexp_replace(regexp_replace(col("text"),
      emailRe, "<EMAIL>"), phoneRe, "<PHONE>").as("t"))
      .collect().map(_.getString(0))
    assert(red.forall(t => !t.matches(s".*$emailRe.*")))
    assert(red.forall(t => !t.matches(s".*$phoneRe.*")))
    assert(red.exists(_.contains("<EMAIL>")) && red.exists(_.contains("<PHONE>")))
    // summary query: counts reflect exactly the synthesized PII docs
    val row = TextQueries.queries("text_redact")(spark, sf0001).head()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val nEmail = docs.filter(col("doc_id") % 13 === 0).count()
    val nPhone = docs.filter(col("doc_id") % 17 === 0).count()
    assert(row.getAs[Long]("n_emails") === nEmail)
    assert(row.getAs[Long]("n_phones") === nPhone)
  }

  test("mixture weights upsample rare cells and respect the clip") {
    val rows = TextQueries.queries("text_mix")(spark, sf0001).collect()
    val byShare = rows.map(r =>
      r.getAs[Double]("actual_share") -> r.getAs[Double]("mix_weight"))
    assert(byShare.forall { case (_, w) => w > 0 && w <= 3.0 })
    val nCells = rows.length
    // any cell below the uniform share must be upsampled (weight > 1)
    assert(byShare.filter(_._1 < 1.0 / nCells - 1e-9).forall(_._2 > 1.0))
    // any cell above it must be downsampled
    assert(byShare.filter(_._1 > 1.0 / nCells + 1e-9).forall(_._2 < 1.0))
  }

  test("cluster stats: sizes partition the corpus, cohesion and purity bounded") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rows = SparkEntry.queries("emb_cluster_stats")(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    assert(rows.forall { r =>
      val c = r.getAs[Double]("mean_cohesion"); c >= -1.0 && c <= 1.0
    })
    assert(rows.forall { r =>
      val p = r.getAs[Double]("purity"); p > 0.0 && p <= 1.0
    })
    // every cluster's dominant label is a real label (label is numeric in
    // the fixture; the query emits its string form)
    val labels = emb.select("label").distinct().collect()
      .map(_.get(0).toString).toSet
    assert(rows.forall(r => labels.contains(r.getAs[String]("top_label"))))
  }

  test("linear classifier scores follow the weights") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_clf").toString
    // doc 1: long, no stopwords -> high score; doc 2: stopword-heavy -> low
    val good = (1 to 200).map(i => s"token$i").mkString(" ")
    val bad = Seq.fill(50)("the a").mkString(" ")
    Seq((1L, good, "en", good.length.toLong),
      (2L, bad, "en", bad.length.toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.queries("text_classify")(spark, dir).head()
    assert(out.getAs[Long]("n_docs") === 2L)
    assert(out.getAs[Long]("n_keep") === 1L) // only the clean doc passes
    // hand-check the clean doc's score: 0.2 + 0.004*200 - 0 + 0.05*awl > 0.5
    assert(out.getAs[Double]("keep_rate") === 0.5)
  }

  test("fluency score ranks repetitive text above unique text") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_lm").toString
    val repetitive = "aa " * 40        // bigrams shared across the corpus
    val unique = ('a' to 'z').map(c => s"$c${c}q$c").mkString(" ")
    (Seq((1L, repetitive.trim, "en"), (2L, repetitive.trim, "en"),
      (3L, unique, "en")))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.queries("text_lm_score")(spark, dir).head()
    // max = the repeated docs' score, min = the unique doc's
    assert(out.getAs[Double]("max_fluency") > out.getAs[Double]("min_fluency"))
    assert(out.getAs[Long]("n_docs") === 3L)
  }
}
