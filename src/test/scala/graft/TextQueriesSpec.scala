package graft

import graft.operators.TextQueries
import org.apache.spark.sql.functions._

/** Regression: text_decontam must tolerate documents shorter than the
  * 8-token gram width (Spark's sequence(1, size-7) steps DOWN when
  * size <= 7, and slice() then throws on index 0). Short docs contribute
  * zero grams, mirroring the oracle's empty generate_series(1, 0).
  */
class TextQueriesSpec extends SparkSuite {

  test("text_decontam handles docs with fewer than 8 tokens") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_shortdoc").toString
    val long1 = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val long2 = (1 to 12).map(i => s"beta$i").mkString(" ")
    Seq(
      (0L, long1),            // doc_id % 97 == 0 -> benchmark member
      (1L, long2),
      (2L, "tiny doc"),       // 2 tokens: would crash the unguarded plan
      (3L, "a b c d e f g"))  // exactly 7 tokens: sequence(1, 0) edge
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.queries("text_decontam")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the synthesized leaked copy of benchmark doc 0 (id 1000000) shares all
    // 5 of its 8-grams; short docs appear nowhere
    assert(out === Map(1000000L -> 5L))
  }

  test("winnowing fingerprint handles docs too short for grams or windows") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rows = Seq("one", "two tok", "a b c", "a b c d e",
      (1 to 12).map(i => s"w$i").mkString(" "))
      .toDF("text")
      .select(TextAnalysis.winnowFingerprint(org.apache.spark.sql.functions
        .col("text")).as("w"))
      .select("w.fp", "w.n_kept").collect()
    // < 6 tokens -> empty kept set (fp of empty string), no crash
    val emptyFp = rows(0).getString(0)
    assert(rows.take(4).forall(r =>
      r.getString(0) === emptyFp && r.getInt(1) === 0))
    assert(rows(4).getInt(1) > 0) // long doc keeps real fingerprints
  }

  test("repetition signals emit NULL ratio for 1-token docs") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_rep").toString
    Seq((1L, "single"), (2L, "a a a a a a"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.queries("text_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(1L) === None)          // no bigrams -> NULL, not 0/0
    assert(out(2L) === Some(0.8))     // 5 bigram slots, 1 distinct
    assert(out(3L) === Some(0.0))     // all distinct
  }

  test("explodedWordGrams: boundary counts, instance multiplicity, cross-doc equality") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 7).map(i => s"w$i").mkString(" ")),  // 7 tokens -> 0 grams
      (2L, (1 to 8).map(i => s"w$i").mkString(" ")),  // 8 tokens -> 1 gram
      (3L, (1 to 9).map(i => s"w$i").mkString(" ")),  // 9 tokens -> 2 grams
      (4L, s"$phrase x $phrase"),  // repeated phrase -> its gram appears twice
      (5L, phrase)                 // same phrase alone -> equal h to doc 4's
    ).toDF("doc_id", "text")
    val g = TextAnalysis.explodedWordGrams(docs, "doc_id", col("text"), 8)
    val counts = g.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one row per POSITION (instances, not distinct grams): doc 4 has
    // 17 tokens -> 10 positions
    assert(counts === Map(2L -> 1L, 3L -> 2L, 4L -> 10L, 5L -> 1L))
    // the repeated phrase's gram: same 128-bit h in doc 4 (twice) and doc 5
    val h5 = g.filter(col("doc_id") === 5)
      .select("h.h1", "h.h2").collect()(0)
    assert(g.filter(col("doc_id") === 4)
      .filter(col("h.h1") === h5.getLong(0) && col("h.h2") === h5.getLong(1))
      .count() === 2L)
  }

  test("column-bound winnowing emits the single-expression form's values") {
    // winnowFingerprints (linear: tokens and gram hashes bound as columns
    // between positional lambdas) must be value-identical to the
    // single-expression winnowFingerprint (quadratic: every element_at
    // re-splits, every window slice re-md5s) — including the short-doc
    // guard shapes.
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = (Seq("", "one", "a b c", "a b c d e",
      (1 to 12).map(i => s"w$i").mkString(" "),
      (1 to 40).map(i => s"tok${i % 7}").mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val slow = docs.select(col("doc_id"),
      TextAnalysis.winnowFingerprint(col("text")).as("w"))
    val fast = TextAnalysis.winnowFingerprints(docs, "doc_id", col("text"))
    assert(fast.except(slow).union(slow.except(fast)).count() === 0L)
  }

  test("regex char-bigram scan is the substr-per-position bigram semantics") {
    // text_lm_score extracts overlapping char bigrams with ONE
    // regexp_extract_all lookahead scan; the reference semantics (and the
    // DuckDB oracle) is substr(text, i, 2) for i in 1..len-1, which Spark
    // can only express as an O(len²)-per-doc transform (the sf1 smoke
    // measured it superlinear). Pin the two forms identical on the
    // adversarial shapes: empty, 1-char, newlines mid-text ((?s) makes
    // '.' cross them), repeated chars, multi-byte BMP chars, and non-BMP
    // text — substr counts code points, so the scan must suppress the
    // zero-width position INSIDE a surrogate pair (without the
    // low-surrogate lookahead, an emoji doc emits one spurious extra
    // bigram per emoji, first char a lone low surrogate).
    import spark.implicits._
    val docs = Seq("", "x", "ab", "line1\nline2\n", "aaaa", "aébé",
      "mixed ascii with spaces", "emoji 😀 mid", "😀😀", "a😀").toDF("text")
    val substrForm = docs.select(explode(when(length(col("text")) >= 2,
      transform(sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy("g").count()
    val regexForm = docs.select(explode(regexp_extract_all(col("text"),
      lit("(?s)(?![\\uDC00-\\uDFFF])(?=(..))"), lit(1))).as("g"))
      .groupBy("g").count()
    assert(substrForm.except(regexForm).union(regexForm.except(substrForm))
      .count() === 0L)
  }
}
