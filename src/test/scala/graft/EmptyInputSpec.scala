package graft

import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: operators must return empty results, not
  * crash, when upstream filters leave nothing (a real state at 100 TB —
  * e.g., an LSH pass over a partition of unique documents, or a CC round
  * over a pair set that deduplication already emptied).
  */
class EmptyInputSpec extends SparkSuite {

  import org.apache.spark.sql.DataFrame
  private def emptyPairs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
  }

  test("connected components over an empty pair set") {
    assert(TextDedup.connectedComponents(emptyPairs, "doc_a", "doc_b")
      .count() === 0)
  }

  test("LSH finds no pairs among unique documents") {
    import spark.implicits._
    val unique = (1L to 40L).map(i =>
      (i, (0 until 20).map(j => s"tok${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextDedup.minhashLshPairs(unique, "doc_id", "text").count() === 0)
    // deterministic fixture: these 40 docs' 16-bit fingerprints happen to
    // have no pair within Hamming distance 1 — pinned, not just no-crash
    assert(TextDedup.simhashHammingPairs(unique, "doc_id", "text")
      .count() === 0)
  }

  test("similarity top-k with an empty query set") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    assert(Similarity.topK(emb, col("vec_id") < 0, 5).count() === 0)
    assert(Similarity.ivfTopK(emb, 16, col("vec_id") < 0, 3).count() === 0)
    assert(Similarity.pqAdcTopK(emb, 16, 32, col("vec_id") < 0, 5)
      .count() === 0)
    assert(Similarity.rpLshPairs(emb.limit(1), 4, 4, 0.3).count() === 0)
  }

  test("incremental LSH with an empty new-doc batch / no settled pairs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").limit(60)
    // no doc marked new → no probe rows → no pairs (and no crash from the
    // bucketed-index write/drop lifecycle)
    assert(TextDedup.minhashLshPairsIncremental(
      docs, lit(false), "doc_id", "text").count() === 0)
  }

  test("repeated spans: all-short and all-unique corpora degrade to zeros") {
    import spark.implicits._
    // every doc under 8 tokens: no grams exist anywhere — full accounting
    // rows with zero hits, and apply returns the texts untouched
    val short = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"))
      .toDF("doc_id", "text")
    val st = TextDedup.repeatedSpanStats(short, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(st === Map(1L -> ((3L, 0L)), 2L -> ((2L, 0L)), 3L -> ((1L, 0L))))
    val ap = TextDedup.removeRepeatedSpans(short, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ap === Map(1L -> "a b c", 2L -> "d e", 3L -> "f"))
    // long but globally unique: grams exist, none repeats — still zeros
    val unique = (1L to 10L).map(i =>
      (i, (0 until 12).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextDedup.repeatedSpanStats(unique, "doc_id", "text")
      .filter(col("n_repeated_tokens") > 0).count() === 0)
  }

  test("persisted ANN index: empty query set and empty append batch") {
    import graft.operators.VecIndex
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_empty").toString
    try {
      VecIndex.build(emb.filter(col("vec_id") < 50), dir, 4, 8, 8)
      // nothing to probe → empty result, not a crash
      assert(VecIndex.probe(spark, dir, emb.filter(col("vec_id") < 0), 3)
        .count() === 0)
      // an empty ingest batch must leave the index fully usable
      VecIndex.append(spark, dir, emb.filter(col("vec_id") < 0))
      assert(VecIndex.probe(spark, dir, emb.filter(col("vec_id") < 2), 3)
        .count() > 0)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("round-7 analysis queries are total on a degenerate tiny corpus") {
    import spark.implicits._
    // 2 identical vectors (zero-variance dims → rounded covariance still
    // finite) plus a tiny doc set exercising hybrid retrieval's empty
    // posting lists and train_shards' sparse shards
    val tinyDocs = Seq(
      (1L, "solo", "en", "s0", 4L),
      (2L, "a", "en", "s0", 1L),
      (3L, "the data the data the data", "en", "s1", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tinyEmb = Seq(0L, 1L, 2L).map(i =>
      (i, (0 until 64).map(j => (j % 5).toFloat / 4f).toArray, 0))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny7").toString
    try {
      tinyDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      tinyEmb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      for (q <- Seq("train_shards", "sim_hybrid_rrf", "emb_pca"))
        SparkEntry.queries(q)(spark, dir).count() // total, no throw
      // identical vectors: covariance is exactly zero → the power
      // iteration's normalized vector divides 0/0 and the loadings are
      // NaN, but the query stays total and the row shape holds
      assert(SparkEntry.queries("emb_pca")(spark, dir).count() === 8)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("round-6 model-prep queries are total on a degenerate tiny corpus") {
    import spark.implicits._
    // 3 docs: a 1-token doc (no bigrams/pairs), an empty-ish doc, a normal
    // one — every query must evaluate without error
    val tiny = Seq(
      (1L, "solo", "en", "s0", 4L),
      (2L, "a", "en", "s0", 1L),
      (3L, "the data the data the data", "en", "s1", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny").toString
    try {
      tiny.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      for (q <- Seq("text_bm25", "text_dsir", "text_bpe_pairs",
          "text_bpe_merge1", "text_domain_cap", "text_token_budget"))
        SparkEntry.queries(q)(spark, dir).count() // total, no throw
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }
}
