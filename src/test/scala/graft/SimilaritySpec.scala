package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF coarse quantizer: the k-means loop must be partitioning-invariant
  * (the oracle reproduces it single-node) and must not lose recall vs the
  * first-C seed centroids it replaces.
  */
class SimilaritySpec extends SparkSuite {

  test("autoCells keeps the gate geometry small and occupancy constant large") {
    import spark.implicits._
    def corpus(n: Int) = (0 until n).map(_.toLong).toDF("vec_id")
    assert(Similarity.autoCells(corpus(50)) === 16)     // sf0.001 shape
    assert(Similarity.autoCells(corpus(5000)) === 16)   // sf0.1 shape: 5000/312
    assert(Similarity.autoCells(corpus(50000)) === 160) // 10x: C scales
    // occupancy stays ~constant as the corpus grows
    assert(50000 / Similarity.autoCells(corpus(50000)) === 312)
  }

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("kmeans centroids are partitioning-invariant (integer-quantized sums)") {
    def cents(df: DataFrame): Map[Long, Seq[Double]] =
      Similarity.kmeansCentroids(df, 16, 2).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val base = cents(emb)
    val reparted = cents(emb.repartition(7))
    assert(base.keySet === reparted.keySet)
    for ((cid, cv) <- base)
      assert(cv === reparted(cid), s"centroid $cid differs across partitionings")
  }

  test("filtered ANN: only candidates satisfying the predicate appear; " +
      "a true predicate degenerates to the unfiltered search; the " +
      "filtered top-k equals filter-inside-cells, not filter-after-topk") {
    import org.apache.spark.sql.functions._
    val cent = Similarity.kmeansCentroids(emb, 16, 2)
    val even = Similarity.ivfTopKFilteredWith(emb, cent,
      col("vec_id") < 10, col("vec_id") % 2 === 0, 3).collect()
    assert(even.nonEmpty)
    assert(even.forall(_.getLong(1) % 2 == 0),
      "an out-of-subset candidate leaked into the filtered top-k")
    // filter-after-topk would LOSE rows (odd neighbors consume ranks);
    // the filtered search must instead refill from even candidates:
    // some query must have an even neighbor that the unfiltered top-3
    // does not contain
    val unf = Similarity.ivfTopKWith(emb, cent, col("vec_id") < 10, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(even.exists(r => !unf.contains((r.getLong(0), r.getLong(1)))),
      "filtered result never refilled — it is just filter-after-topk")
    // candPred = true delegates to the identical unfiltered plan
    val viaTrue = Similarity.ivfTopKFilteredWith(emb, cent,
      col("vec_id") < 10, lit(true), 3)
      .collect().map(_.toSeq).toSet
    assert(viaTrue === Similarity.ivfTopKWith(emb, cent,
      col("vec_id") < 10, 3).collect().map(_.toSeq).toSet)
  }

  test("hierarchical assignment + sampled training: the scaled-C path " +
      "keeps cell agreement and near-dup recall") {
    // force the hierarchy at C=16 (flatBelow=0) on the fixture corpus:
    // two-hop assignment must agree with the exact flat argmin for the
    // overwhelming majority of vectors (disagreement = super-cell
    // boundary cases), and identical twin vectors must land together
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cent = Similarity.kmeansCentroids(emb, 16, 2)
    val flat = Similarity.ivfAssignTo(emb, cent)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = Similarity.assignCells(v, cent, flatBelow = 0)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hier.keySet === flat.keySet)
    val agree = flat.count { case (id, c) => hier(id) == c }
    assert(agree.toDouble / flat.size >= 0.8,
      s"hier assignment agrees on only $agree/${flat.size} cells")

    // end-to-end with the scaled machinery FORCED (perCell=8 → the
    // 500-row corpus genuinely samples ~128 training vectors;
    // flatBelow=0 → the two-hop assignment runs at C=16) against PLANTED
    // twins: the fixture's own 0.4-threshold pairs are all boundary-grade
    // generic cosines (max sim ≈ 0.41 — no real near-dups), so
    // flat-vs-scaled set overlap there only measures boundary noise.
    // True near-dups (cosine ≈ 1) must co-locate under ANY quantizer —
    // the property candidate generation actually relies on.
    val twins = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(i, lit(3)).cast("float") - lit(1.0f)) * lit(0.002f))
            .cast("float")).as("embedding"),
        col("label"))
    val corpus2 = emb.select("vec_id", "embedding", "label").union(twins)
      .localCheckpoint()
    val expected = emb.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 700000L)).toSet
    assert(expected.size >= 15)
    val scaledSet = Similarity.nearDupPairsScaled(corpus2, 16, 0.9,
      perCell = 8, flatBelow = 0)
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(scaledSet),
      s"scaled path missed planted twins: ${expected -- scaledSet}")
  }

  test("scaled assignment assigns EVERY vector (no silent drops at the " +
      "memberless-super join)") {
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cent = Similarity.kmeansCentroids(
      Similarity.trainSample(emb, 16, perCell = 8), 16, 2)
    val asn = Similarity.assignCells(v, cent, flatBelow = 0)
    assert(asn.count() === emb.count(),
      "hierarchical assignment lost vectors")
  }

  test("PQ ADC: 16x-compressed codes rank true L2 neighbors usefully") {
    import org.apache.spark.sql.expressions.Window
    val pred = col("vec_id") < 50
    val pq = Similarity.pqAdcTopK(emb, 16, 256, pred, 5)
    val pqHits = pq.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.count() === 50 * 5) // every query gets a full top-5
    // exact squared-L2 top-5 (same metric PQ approximates)
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = v.filter(pred).select(col("vec_id").as("qid"), col("v").as("qv"))
    val dotC = Similarity.dot _
    val l2 = dotC(col("qv"), col("qv")) - lit(2.0) * dotC(col("qv"), col("v")) +
      dotC(col("v"), col("v"))
    val w = Window.partitionBy("qid").orderBy(col("d").asc, col("vec_id"))
    val exact = v.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), l2.as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pqHits & exact).size.toDouble / exact.size
    info(f"PQ ADC recall@5 vs exact L2: $recall%.3f")
    // floor tracks the production config (16 subspaces × 256 codes,
    // 2 Lloyd's rounds): measured 0.656 on the fixture
    assert(recall >= 0.6, f"PQ recall collapsed: $recall%.3f")
  }

  test("PQ sample training: codebooks from a first-N sample hold recall") {
    import org.apache.spark.sql.expressions.Window
    val pred = col("vec_id") < 50
    // train on 300 of the fixture's 500 vectors, encode all — the 100 TB
    // configuration (Lloyd's passes over a bounded sample)
    val pq = Similarity.pqAdcTopK(emb, 16, 256, pred, 5,
      trainSample = Some(300))
    val hits = pq.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = v.filter(pred).select(col("vec_id").as("qid"), col("v").as("qv"))
    val dotC = Similarity.dot _
    val l2 = dotC(col("qv"), col("qv")) - lit(2.0) * dotC(col("qv"), col("v")) +
      dotC(col("v"), col("v"))
    val w = Window.partitionBy("qid").orderBy(col("d").asc, col("vec_id"))
    val exact = v.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), l2.as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (hits & exact).size.toDouble / exact.size
    // measured 0.536 vs 0.656 full-train — the expected mild cost of a
    // 60% training sample at this tiny fixture scale (real corpora
    // sample far above kCode×100 and close the gap)
    info(f"sample-trained PQ recall@5: $recall%.3f")
    assert(recall >= 0.5, f"sample-trained recall collapsed: $recall%.3f")
  }

  test("IVF-PQ: residual codes + cell pruning keep useful recall") {
    import org.apache.spark.sql.expressions.Window
    val pred = col("vec_id") < 50
    val ivfpq = Similarity.ivfPqTopK(emb, 16, 16, 256, pred, 5, nprobe = 3)
    val hits = ivfpq.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q = v.filter(pred).select(col("vec_id").as("qid"), col("v").as("qv"))
    val dotC = Similarity.dot _
    val l2 = dotC(col("qv"), col("qv")) - lit(2.0) * dotC(col("qv"), col("v")) +
      dotC(col("v"), col("v"))
    val w = Window.partitionBy("qid").orderBy(col("d").asc, col("vec_id"))
    val exact = v.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), l2.as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (hits & exact).size.toDouble / exact.size
    info(f"IVF-PQ recall@5 vs exact L2: $recall%.3f")
    // lower than flat PQ by construction (cell pruning ALSO discards
    // true neighbors — the speed/recall trade IVF sells); measured 0.484
    // at nprobe=3 on the fixture (0.428 at nprobe=2)
    assert(recall >= 0.45, f"IVF-PQ recall collapsed: $recall%.3f")
  }

  test("IVF recall@5 vs brute force: kmeans + multiprobe beats first-C single-cell") {
    def hits(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 50 queries × 5 neighbors — enough hits that recall deltas aren't noise
    val pred = col("vec_id") < 50
    val brute = hits(Similarity.topK(emb, pred, 5))
    val seed = hits(Similarity.ivfTopK(emb, 16, pred, 5, kmeansIters = 0, nprobe = 1))
    val km = hits(Similarity.ivfTopK(emb, 16, pred, 5, kmeansIters = 2, nprobe = 2))
    val seedRecall = (seed & brute).size.toDouble / brute.size
    val kmRecall = (km & brute).size.toDouble / brute.size
    info(f"recall@5 firstC/np1=$seedRecall%.3f kmeans2/np2=$kmRecall%.3f")
    assert(kmRecall > 0.0)
    assert(kmRecall > seedRecall,
      f"kmeans+multiprobe did not improve recall: $kmRecall%.3f <= $seedRecall%.3f")
  }

  test("a zero vector (cosine NaN) is no range hit, rp-LSH pair or " +
      "top-k neighbour") {
    val zero = 100000L
    val corpus = emb.union(emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(zero))
      .withColumn("embedding", expr("transform(embedding, x -> x * 0)")))
    val pred = col("vec_id") < 5
    def ids(df: DataFrame, cols: String*): Set[Long] =
      df.select(cols.map(col): _*).collect()
        .flatMap(r => cols.indices.map(r.getLong)).toSet
    val cent = Similarity.kmeansCentroids(emb, 1, 1) // one cell holds all
    val got = Map(
      "rangeSearch" -> ids(Similarity.rangeSearch(corpus, pred, 0.0),
        "vec_id"),
      // 1 bit per band: the zero vector's all-ones sketch shares a band
      // with nearly every vector, so it IS a candidate
      "rpLshPairs" -> ids(Similarity.rpLshPairs(corpus, 8, 1, 0.0),
        "va", "vb"),
      "topK" -> ids(Similarity.topK(corpus, pred, 3), "vec_id"),
      "ivfTopKWith" -> ids(
        Similarity.ivfTopKWith(corpus, cent, pred, 3, nprobe = 1), "vec_id"),
      "knnGraphWith" -> ids(Similarity.knnGraphWith(corpus, cent, 3),
        "vec_id", "nbr"))
    assert(got.filter(_._2.isEmpty).keys.toSeq === Nil, "found nothing")
    assert(got.filter(_._2.contains(zero)).keys.toSeq.sorted === Nil,
      "matched the zero vector")
  }
}
