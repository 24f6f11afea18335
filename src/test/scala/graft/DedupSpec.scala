package graft

import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** The scale-form (explode + hash-aggregate) signature computations must
  * equal the HOF reference forms — pins the optimized path to the spec.
  */
class DedupSpec extends SparkSuite {

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet").limit(50)

  test("minhashSignatures (explode+agg) == minhashSignature (HOF)") {
    val sh = docs.select(col("doc_id"),
      TextDedup.bigramShingles(col("text")).as("bg"))
    val scale = TextDedup.minhashSignatures(sh, 8)
      .collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i)))
      .toMap
    val hof = sh.select(col("doc_id"),
        TextDedup.minhashSignature(col("bg"), 8).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    assert(scale.keySet === hof.keySet)
    for ((k, v) <- scale) assert(v.toSeq === hof(k).toSeq, s"doc $k")
  }

  test("simhashDf (explode+agg) == simhash16 (HOF)") {
    val scale = TextDedup.simhashDf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hof = docs.select(col("doc_id"),
        TextDedup.simhash16(TextDedup.bigramShingles(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scale === hof)
  }

  test("lsh pairs: planted near-dups found with exact jaccard >= 0.5") {
    val all = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = TextDedup.minhashLshPairs(all, "doc_id", "text").collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    // symmetric dedup: a < b always
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("connected components: min-label propagation over pair chains") {
    import spark.implicits._
    // chain 5-3-7 plus isolated pair 10-12 → clusters {3,5,7}=3, {10,12}=10
    val pairs = Seq((3L, 5L), (5L, 7L), (10L, 12L)).toDF("doc_a", "doc_b")
    val cc = TextDedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 10L -> 10L, 12L -> 10L))
  }

  test("large-star/small-star CC == driver union-find; beats diameter cap") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: union-find on the driver, each component labelled by its
    // smallest member
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    def check(edges: Seq[(Long, Long)], label: String): Unit =
      assert(labels(TextDedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")) === unionFind(edges),
        label)
    // fixture-shaped graph
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 10L)), "fixture-shaped graph")
    // seeded random graphs of ~200 nodes: sparse enough to leave several
    // components, with self-pairs and repeated pairs mixed in
    for (seed <- Seq(7L, 11L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(150)(
        (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      check(edges, s"random graph, seed $seed")
    }
    // adversarial 400-node chain: diameter >> a label-propagation
    // iteration cap, but the star algorithm converges logarithmically
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val starChain = labels(
      TextDedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 12))
    assert(starChain.values.toSet === Set(0L), "chain did not collapse to root 0")
    assert(starChain.size === 401)
  }

  test("repeatedSpanStats: coverage, span merging, and within-doc recurrence") {
    import spark.implicits._
    val s = (1 to 9).map(i => s"s$i") // the cross-doc shared run
    val fixture = Seq(
      // shared 8-gram s1..s8 at positions 5..12 of 14 tokens
      (1L, (Seq("a1", "a2", "a3", "a4") ++ s.take(8) ++ Seq("a5", "a6"))
        .mkString(" ")),
      // same gram at position 1 of 10 tokens
      (2L, (s.take(8) ++ Seq("b1", "b2")).mkString(" ")),
      // TWO overlapping shared grams (s1..s8, s2..s9) must merge: one span
      (3L, s.mkString(" ")),
      (4L, (s :+ "e1").mkString(" ")),
      // the shared gram twice in ONE doc: two disjoint spans
      (5L, (s.take(8) ++ Seq("f1") ++ s.take(8)).mkString(" ")),
      // too short for any gram: all-zero accounting
      (6L, "c1 c2 c3")).toDF("doc_id", "text")
    val got = TextDedup.repeatedSpanStats(fixture, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (n_tokens, n_hit_grams, n_repeated_tokens, n_spans)
    assert(got(1L) === ((14L, 1L, 8L, 1L)))
    assert(got(2L) === ((10L, 1L, 8L, 1L)))
    assert(got(3L) === ((9L, 2L, 9L, 1L))) // overlap merged into one span
    assert(got(4L) === ((10L, 2L, 9L, 1L)))
    assert(got(5L) === ((17L, 2L, 16L, 2L))) // f1 splits the coverage
    assert(got(6L) === ((3L, 0L, 0L, 0L)))

    // the APPLY form rebuilds text from the same coverage frame
    val cleaned = TextDedup.removeRepeatedSpans(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(cleaned(1L) === ((6L, "a1 a2 a3 a4 a5 a6")))
    assert(cleaned(3L) === ((0L, ""))) // fully covered, kept for policy
    assert(cleaned(5L) === ((1L, "f1")))
    assert(cleaned(6L) === ((3L, "c1 c2 c3")))
  }

  test("single-pass CosineSim == composed dot/norms, bitwise, on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(100)
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
    val d = org.apache.spark.sql.graft.VectorFunctions
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(
        d.cosine(col("va"), col("vb")).as("one_pass"),
        (d.dot(col("va"), col("vb")) /
          (sqrt(d.dot(col("va"), col("va"))) * sqrt(d.dot(col("vb"), col("vb")))))
          .as("composed"))
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("codegen DotProduct == HOF fold, bitwise") {
    import spark.implicits._
    val df = Seq((Seq(1.5, 2.5, -3.0), Seq(0.5, 2.0, 4.0))).toDF("a", "b")
    val got = df.select(
      org.apache.spark.sql.graft.VectorFunctions.dot(col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).head()
    assert(got.getDouble(0) === got.getDouble(1))
    assert(got.getDouble(0) === (1.5 * 0.5 + 2.5 * 2.0 + (-3.0) * 4.0))
  }
}
