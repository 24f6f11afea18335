package graft

import graft.Materialize.Ops
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The scaled near-dup path (sampled training + hierarchical assignment)
  * is approximate ONLY in candidate coverage — every emitted pair is
  * exact-cosine verified. This spec turns that approximation into a
  * CONTRACT: a measured recall floor against the exact flat path's pair
  * set, with both approximations engaged (perCell forced low so the
  * training sample is a strict subset even on the small fixture, and
  * C ≥ flatBelow so assignment goes through the two-hop). The smoke's
  * `sim_recall@scaledC` row measures the same quantity at sf0.1/10×
  * production geometry; this pins it in CI at fixture scale.
  */
class ScaledRecallSpec extends SparkSuite {

  test("scaled path recall vs exact flat path has a floor; every scaled " +
      "pair is a true near-dup") {
    // sf0.01, not sf0.001: the floor must be pinned at a meaningful cell
    // occupancy. 500 rows / 192 cells = 2.6 vectors per cell — a regime
    // where every pair sits on a cell boundary and recall measures the
    // degenerate geometry, not the operator (measured 0.64 there, vs 312
    // per cell in the production tuning).  5 000 rows / 192 cells = 26
    // per cell is the smallest fixture that resembles the real regime.
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet").materialize()
    val n = emb.count()
    val c = 192 // ≥ flatBelow=128 → hier assignment engaged
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val flat = pairs(Similarity.nearDupPairs(emb, c, 0.4))
    assert(flat.nonEmpty, "fixture must produce flat near-dup pairs")
    // perCell=16 → sample target 3 072 < 5 000 rows: the training sample
    // is a strict subset, so BOTH approximations are engaged
    val scaled = pairs(
      Similarity.nearDupPairsScaled(emb, c, 0.4, perCell = 16, nRows = n))
    // attribution: each approximation alone. perCell=64 → full training
    // (target ≥ n) isolates the hier assignment; flatBelow above c forces
    // exact flat assignment and isolates the sampled training.
    val hierOnly = pairs(
      Similarity.nearDupPairsScaled(emb, c, 0.4, perCell = 64, nRows = n))
    val sampleOnly = pairs(Similarity.nearDupPairsScaled(
      emb, c, 0.4, perCell = 16, flatBelow = Int.MaxValue, nRows = n))
    // precision-as-correctness: the verify stage makes every scaled pair
    // a genuine cosine ≥ threshold pair, approximation or not
    assert(scaled.values.forall(_ >= 0.4))
    def recallOf(s: Map[(Long, Long), Double]): Double =
      (flat.keySet & s.keySet).size.toDouble / flat.size
    info(f"recall both=${recallOf(scaled)}%.3f " +
      f"hierOnly=${recallOf(hierOnly)}%.3f " +
      f"sampleOnly=${recallOf(sampleOnly)}%.3f " +
      s"(flat=${flat.size}, scaled=${scaled.size})")
    assert(recallOf(scaled) >= 0.75,
      f"scaled-path recall ${recallOf(scaled)}%.3f fell below the floor")
    assert(recallOf(hierOnly) >= 0.75)
    assert(recallOf(sampleOnly) >= 0.75)
  }

  test("multi-probe near-dup contains the single-probe pair set and " +
      "lifts recall against brute-force truth") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet").materialize()
    val c = 192
    val cent = Similarity.kmeansCentroids(emb, c, 2).materialize()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("va", "vb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = pairs(Similarity.nearDupPairsWith(emb, cent, 0.4))
    val mp = pairs(Similarity.nearDupPairsWith(emb, cent, 0.4, probes = 2))
    // superset by construction: a pair sharing an argmax cell shares it
    // in both top-2 sets too
    assert(flat.subsetOf(mp),
      s"multi-probe lost ${(flat -- mp).size} single-probe pairs")
    assert(mp.size > flat.size,
      "fixture must have boundary pairs for the probe knob to recover")
    // and the recovered pairs are REAL: recall against brute force
    // strictly improves (precision is structural — the verify stage
    // exact-filters every candidate)
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val truth = pairs(v.as("a")
      .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        Similarity.cosine(col("a.v"), col("b.v")).as("sim"))
      .filter(col("sim") >= 0.4))
    val rFlat = (flat & truth).size.toDouble / truth.size
    val rMp = (mp & truth).size.toDouble / truth.size
    info(f"recall vs truth: flat=$rFlat%.3f multiprobe=$rMp%.3f " +
      s"(truth=${truth.size}, flat=${flat.size}, mp=${mp.size})")
    assert(rMp > rFlat)

    // and composed with the SCALED path (sampled train + hier assign):
    // same containment and lift, since the hop-2 TopK runs over exactly
    // the argmin's candidate set
    val n = emb.count()
    def spairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("va", "vb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaled = spairs(
      Similarity.nearDupPairsScaled(emb, c, 0.4, perCell = 16, nRows = n))
    val scaledMp = spairs(Similarity.nearDupPairsScaled(
      emb, c, 0.4, probes = 2, perCell = 16, nRows = n))
    assert(scaled.subsetOf(scaledMp),
      s"scaled multi-probe lost ${(scaled -- scaledMp).size} pairs")
    val rScaled = (scaled & truth).size.toDouble / truth.size
    val rScaledMp = (scaledMp & truth).size.toDouble / truth.size
    info(f"scaled recall vs truth: single=$rScaled%.3f multi=$rScaledMp%.3f")
    assert(rScaledMp > rScaled)
  }

  test("probes curve: pair sets nest monotonically across probes 1→2→4→8 " +
      "and the production default (probes=4) meets its recall floor " +
      "against brute-force truth") {
    // autoCells geometry (C=16), the production occupancy tuning the r13
    // curve measured at sf0.1/10× (recall 0.95/0.67 at p=4); this pins
    // the same contract at fixture scale
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet").materialize()
    val c = Similarity.autoCells(emb)
    val cent = Similarity.kmeansCentroids(emb, c, 2).materialize()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("va", "vb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val truth = pairs(v.as("a")
      .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        Similarity.cosine(col("a.v"), col("b.v")).as("sim"))
      .filter(col("sim") >= 0.4))
    assert(truth.nonEmpty)
    val byProbes = Seq(1, 2, 4, 8).map(p =>
      p -> pairs(Similarity.nearDupPairsWith(emb, cent, 0.4, probes = p)))
    for (Seq((pLo, lo), (pHi, hi)) <- byProbes.sliding(2))
      assert(lo.subsetOf(hi),
        s"probes=$pHi lost ${(lo -- hi).size} pairs probes=$pLo found")
    val recalls = byProbes.map { case (p, s) =>
      p -> (s & truth).size.toDouble / truth.size }.toMap
    info(recalls.toSeq.sortBy(_._1)
      .map { case (p, r) => f"p=$p: $r%.3f" }.mkString("recall ", ", ", ""))
    // the curve must actually climb to the default...
    assert(recalls(4) > recalls(1))
    // ...and the default must clear its floor (measured 0.95/0.96 at
    // sf0.1, 0.67 at 10×'s lower-occupancy C=64 geometry; fixture-scale
    // occupancy sits between — 0.80 is the conservative contract)
    assert(recalls(4) >= 0.80,
      f"probes=4 recall ${recalls(4)}%.3f fell below the production floor")
  }

  test("filtered-ANN curve: recall@k vs brute-force-filtered truth across " +
      "selectivity x nprobe — monotone in nprobe, and the selectivity-" +
      "scaled nprobe recommendation holds its floor at every selectivity") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet").materialize()
    val c = Similarity.autoCells(emb)
    val cent = Similarity.kmeansCentroids(emb, c, 2).materialize()
    val queryPred = col("vec_id") < 20
    val k = 5
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // selectivity levels: the fraction of candidates surviving the
    // metadata predicate (50% / 20% / 5%)
    val sels = Seq(2 -> 0.5, 5 -> 0.2, 20 -> 0.05)
    val curve = for ((m, sel) <- sels) yield {
      val candPred = col("vec_id") % m === 0
      // brute-force filtered truth: exact cosine top-k among ONLY the
      // candidates passing the predicate
      val q = v.filter(queryPred)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val truth = topkSet(v.filter(candPred).crossJoin(q)
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          Similarity.cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k))
      assert(truth.nonEmpty)
      val byProbe = Seq(1, 2, 4, 8, c).distinct.map { np =>
        np -> (topkSet(Similarity.ivfTopKFilteredWith(
          emb, cent, queryPred, candPred, k, nprobe = np))
          & truth).size.toDouble / truth.size
      }
      info(f"sel=$sel%.2f: " + byProbe.map { case (np, r) =>
        f"np=$np: $r%.3f" }.mkString(", "))
      // recall climbs (weakly) with nprobe at every selectivity, and
      // nprobe=C (exhaustive over the filtered subset) is exact
      for (Seq((_, lo), (_, hi)) <- byProbe.sliding(2))
        assert(hi >= lo - 1e-9, s"recall fell with nprobe at sel=$sel")
      assert(byProbe.last._2 >= 1.0 - 1e-9,
        s"nprobe=C not exact at sel=$sel: ${byProbe.last._2}")
      (sel, byProbe.toMap)
    }
    // the scaladoc recommendation — nprobe = min(C, ceil(4/selectivity)),
    // i.e. scale the unfiltered default (4) by 1/selectivity and fall
    // back to the exhaustive filtered scan once that reaches C — must
    // clear the same 0.80 floor the unfiltered default holds, at EVERY
    // selectivity
    for ((sel, byProbe) <- curve) {
      val rec = math.min(c.toDouble, math.ceil(4.0 / sel)).toInt
      val np = Seq(1, 2, 4, 8, c).distinct.filter(_ >= rec).minOption
        .getOrElse(c)
      assert(byProbe(np) >= 0.80,
        f"recommended nprobe=$np at sel=$sel%.2f: recall ${byProbe(np)}%.3f")
    }
  }
}
