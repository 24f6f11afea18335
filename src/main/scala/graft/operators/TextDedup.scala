package graft.operators

import graft.Materialize.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY.md §2.10
  * X1/X2): exact (hash groupBy), MinHash+LSH, SimHash, and exact n-gram
  * Jaccard verification.
  *
  * All hashing is md5-based so the DuckDB oracle can reproduce bucket
  * assignments bit-for-bit (both engines emit identical lowercase-hex md5);
  * minhash components are minima of k affine permutations of ONE md5-derived
  * 31-bit integer per shingle (see [[minhashSignatures]]).
  *
  * 100 TB design:
  * - signatures are computed per-row with array higher-order functions — a
  *   narrow map, no shuffle, no explode of the shingle set;
  * - the LSH candidate join shuffles only (band, bucket-key) pairs — b×n
  *   rows regardless of shingle count — and pairs form only within buckets
  *   (the classic band-bucket join). Hot buckets (boilerplate docs) are
  *   handled by `salts > 1`: [[Skew.saltedSelfJoin]] shards each bucket's
  *   pair space over salts² reducers (equivalence pinned by spec);
  * - exact-Jaccard verification touches only LSH candidates, never the n²
  *   pair space.
  */
object TextDedup {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word-bigram shingle set (distinct). */
  def bigramShingles(text: Column): Column = {
    val t = tokens(text)
    array_distinct(
      zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** One-md5 MinHash: each shingle is hashed ONCE (md5 → first 15 hex
    * digits → bigint mod P) and the k signature components are derived by
    * k affine permutations h_i = (a_i·h + b_i) mod P over the Mersenne
    * prime P = 2^31 − 1. All operands stay < 2^31 so products fit a signed
    * 64-bit long in both engines, and the DuckDB oracle reproduces the
    * arithmetic bit-for-bit. Cuts the hash work k× vs hashing the shingle
    * k times — at 100 TB the md5 over full shingle text dominates the
    * signature cost, the affine arithmetic is ~free.
    */
  val MinhashP = 2147483647L // 2^31 - 1
  // Knuth/Fibonacci and murmur mixing constants — public, deterministic,
  // and cheap for the oracle to re-derive inline.
  def minhashA(i: Int): Long = (2654435761L * (i + 1)) % MinhashP
  def minhashB(i: Int): Long = (2245822071L * (i + 1)) % MinhashP

  /** Base shingle hash: bigint of md5's first 15 hex digits, mod P. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP

  /** MinHash signature: k min-of-affine-permutation components over the
    * shingle set, as an array column (HOF form — correct but interpreted;
    * used for small inputs/tests).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i => {
      val a = (lit(2654435761L) * (i + 1)) % MinhashP
      val b = (lit(2245822071L) * (i + 1)) % MinhashP
      array_min(transform(shingles, s => (a * shingleHash(s) + b) % MinhashP))
    })

  /** MinHash signatures, scale form: explode the shingle set, ONE
    * codegen'd md5 per shingle, k affine permutations as flat long
    * arithmetic, then hash-aggregate the per-doc minima — map-side partial
    * mins make the shuffle carry only k longs per doc regardless of
    * shingle count.
    *
    * Output: doc_id, h0..h{k-1} (bigint).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    signaturesFromHashes(
      sh.select(col("doc_id"), explode(col("bg")).as("s"))
        .select(col("doc_id"), shingleHash(col("s")).as("hm")), k)

  /** Signature aggregation over an already-exploded (doc_id, hm) frame.
    * Appends `n` (the per-doc shingle-set size) to the signature columns:
    * the Jaccard denominator rides along in the same hash aggregate, so
    * the verify step never re-aggregates the (much larger) exploded table.
    */
  private[operators] def signaturesFromHashes(ex: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min((col("hm") * minhashA(i) + minhashB(i)) % MinhashP).as(s"h$i"))
    ex.groupBy("doc_id").agg(mins.head, (mins.tail :+ count(lit(1)).as("n")): _*)
  }

  /** 16-bit SimHash over the shingle set: bit j is the sign of the sum of
    * ±1 votes from the j-th hex digit's high bit of each shingle's md5.
    * (HOF form — interpreted; kept for expression-level use and tests.)
    */
  def simhash16(shingles: Column): Column =
    array_join(
      transform(sequence(lit(1), lit(16)), j =>
        when(
          aggregate(shingles, lit(0), (acc, s) =>
            acc + when(substring(md5(s), j, lit(1)) >= "8", 1).otherwise(-1)) >= 0,
          lit("1")).otherwise(lit("0"))),
      "")

  /** SimHash, scale form: ONE codegen'd md5 per (doc, shingle) row, 16
    * cheap substring votes per hash, then a hash-aggregate of vote sums —
    * map-side combine shrinks the shuffle to 16 ints per doc.
    */
  def simhashDf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = docs
      .repartition(par) // spread the shingling work over all cores
      .select(col(idCol).as("doc_id"),
        explode(bigramShingles(col(textCol))).as("s"))
      .select(col("doc_id"), md5(col("s")).as("h"))
    val votes = (1 to 16).map(j =>
      sum(when(substring(col("h"), j, 1) >= "8", 1).otherwise(-1)).as(s"v$j"))
    ex.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((1 to 16).map(j =>
          when(col(s"v$j") >= 0, lit("1")).otherwise(lit("0"))): _*)
          .as("simhash"))
  }

  /** SimHash near-dup pairs within a Hamming radius — the index shape that
    * exact-collision bucketing cannot express. Pigeonhole: split the
    * 16-bit fingerprint into (maxDist + 1) blocks; any pair within Hamming
    * distance ≤ maxDist must agree exactly on ≥ 1 block, so candidates
    * come from a block-bucket equi self-join ((maxDist+1)×n rows shuffled,
    * never n²) and the full Hamming distance is verified only on
    * candidates. Block count trades candidate volume against radius: a
    * 16-bit fingerprint supports maxDist 1 (2 blocks of 8 bits, 256
    * bucket values) well; wider radii want wider fingerprints so blocks
    * keep enough entropy to prune. `salts` shards hot blocks like the LSH
    * band join.
    */
  def simhashHammingPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 1,
      salts: Int = 1): DataFrame = {
    val nBlocks = maxDist + 1
    require(16 % nBlocks == 0, s"16 bits must split evenly into $nBlocks blocks")
    val bw = 16 / nBlocks
    val sh = simhashDf(docs, idCol, textCol).materialize()
    val blocks = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map(b =>
        substring(col("simhash"), b * bw + 1, bw)): _*)).as(Seq("b", "blk")))
    val cand = Skew.saltedSelfJoin(blocks, Seq("b", "blk"), "doc_id", salts)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.simhash").as("sa"), col("r.simhash").as("sb"))
      .distinct()
    // codegen'd byte-loop Hamming (graft.HammingDistance) — one pass, no
    // per-position substring allocations; equivalence with the composed
    // substring chain is spec-pinned
    cand.withColumn("hamming",
        org.apache.spark.sql.graft.VectorFunctions
          .hamming(col("sa"), col("sb")).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected components over a near-dup pair set: every doc's
    * cluster id is the smallest doc_id in its component — the grouping
    * step of near-dedup ("keep one doc per cluster").
    *
    * Alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): O(log n) rounds, so
    * an adversarial high-diameter graph (a long chain) converges in a
    * handful of shuffles, where min-label propagation needs O(diameter)
    * rounds and hits its iteration cap. `DedupSpec` pins a 400-node
    * chain and a driver-side union-find reference.
    *
    * Each round is two grouped-min joins over the edge list; convergence
    * is detected from a (count, hash-sum) signature of the checkpointed
    * edge set — one cheap action per round.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIters: Int = 50): DataFrame = {
    // one materialization of the pair set for the three lineage consumers
    // below (two `nodes` union branches + the edge canonicalization)
    val p = pairs.materialize()
    val nodes = p.select(col(aCol).as("doc"))
      .union(p.select(col(bCol).as("doc"))).distinct()
    var e = p
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().materialize()
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // the convergence signature already knows the edge count — use it to
    // right-size the next round's task count (dedup graphs shrink fast;
    // scheduling 32 tasks per tiny shuffle would dominate the round)
    def sized(df: DataFrame, edgeCount: Long): DataFrame =
      df.coalesce(math.max(1, math.min(64, (edgeCount / 100000L).toInt + 1)))
    var prevSig = sig(e)
    e = sized(e, prevSig._1)
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // large-star: for every node u, link its LARGER neighbors to the
      // minimum of u's neighborhood (incl. u)
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val afterLs = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: every node links its smaller neighbors AND itself to
      // the minimum of its smaller neighborhood
      val minsS = afterLs.groupBy("u").agg(min("v").as("m"))
      val j = afterLs.join(minsS, Seq("u"))
      val next = j.select(col("v").as("a"), col("m").as("b"))
        .union(j.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(col("a").as("u"), col("b").as("v"))
        .distinct().materialize()
      val nextSig = sig(next)
      converged = nextSig == prevSig
      prevSig = nextSig
      e = sized(next, nextSig._1)
      iters += 1
    }
    if (!converged)
      Console.err.println(
        s"[graft] connectedComponents: stopped at maxIters=$maxIters " +
          "without signature convergence — emitted labels may not be the " +
          "component minimum")
    nodes.join(e.select(col("u").as("doc"), col("v").as("label")), Seq("doc"), "left")
      .groupBy("doc")
      .agg(min(coalesce(col("label"), col("doc"))).as("cluster_id"))
      .select(col("doc").as("doc_id"), col("cluster_id"))
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * @param docs (idCol, textCol) DataFrame
    * @param k    signature length (must be bands * rowsPerBand)
    * @param bands band count; candidate pairs share at least one band bucket
    * @param threshold exact bigram-Jaccard cutoff applied to candidates
    * @param salts shard factor for hot band buckets (1 = plain bucket join)
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      salts: Int = 1): DataFrame = {
    val rows = k / bands
    // repartition: a single-file input would otherwise run the CPU-heavy
    // shingling/hashing map stage as ONE task. The FLAT exploded table
    // (doc_id, shingle, hash) is materialized once and feeds all three
    // consumers — signatures and both exact-Jaccard branches — so the
    // shingling + md5 work runs exactly once (flat rows also checkpoint
    // smaller and rejoin cheaper than re-exploding array blobs per branch).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val ex = docs.repartition(par)
      .select(col(idCol).as("doc_id"),
        explode(bigramShingles(col(textCol))).as("s"))
      .select(col("doc_id"), col("s"), shingleHash(col("s")).as("hm"))
      .materialize()
    // signature table (h0..h{k-1}, n) — checkpointed: it is the "write the
    // signature table once" step of the standard LSH shape, and it feeds
    // the band unpivot (twice, via the self-join) plus both Jaccard
    // denominators. n docs × (k+1) longs — tiny next to the exploded table.
    val mh = signaturesFromHashes(ex, k).materialize()

    // candidates = pairs sharing any (band, bucket); one shuffle on
    // (b, bkey) — sharded over salts² reducers per bucket when salts > 1
    val bandsDf = bandBuckets(mh, k, bands)
    val cand = Skew.saltedSelfJoin(bandsDf, Seq("b", "bkey"), "doc_id", salts)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, ex, mh, threshold)
  }

  /** THE band-bucket key: md5 over the "|"-joined string casts of one
    * band's signature slice. Single construction point shared by the batch
    * column form ([[bandBuckets]]) and the streaming per-row array form
    * (`graft.streaming.StreamDedup.bandRows`) so the two cannot drift —
    * a one-character divergence here would silently empty the streaming ≡
    * batch candidate identity.
    */
  private[graft] def bandKey(sigSlice: Seq[Column]): Column =
    md5(concat_ws("|", sigSlice.map(_.cast("string")): _*))

  /** Band-bucket keys: md5 of each band's signature slice, unpivoted by
    * stack() to (doc_id, b, bkey) rows — a cheap projection of the
    * checkpointed signature table, no checkpoint of its own.
    */
  private[operators] def bandBuckets(mh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val withBands = mh.select(
      col("doc_id") +: (0 until bands).map(b =>
        bandKey((0 until rows).map(r => col(s"h${b * rows + r}")))
          .as(s"bk$b")): _*)
    val stackArgs = (0 until bands).map(b => s"$b, bk$b").mkString(", ")
    withBands.selectExpr("doc_id", s"stack($bands, $stackArgs) as (b, bkey)")
  }

  /** Exact-Jaccard verification over candidate pairs only (both branches
    * read the checkpointed exploded table; shingle sets are distinct, so
    * the per-doc shingle count aggregated into the signature table IS the
    * set size). Shared by the batch LSH and the incremental index probe.
    */
  private def verifyJaccard(
      cand: DataFrame, ex: DataFrame, mh: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardCore(cand, ex.select("doc_id", "s"),
      mh.select("doc_id", "n"), threshold)

  /** The verify core over (doc_id, s) shingle rows + (doc_id, n) set
    * sizes — ONE implementation of the exact-Jaccard semantics so the
    * batch LSH, the incremental index probe, and the streaming
    * foreachBatch verify (graft.streaming.StreamDedup.verifyPairs) cannot
    * drift apart. The shingle match is an explicit (doc_b, s) equi-join
    * key by construction.
    */
  private[graft] def verifyJaccardCore(
      cand: DataFrame, sh: DataFrame, sz: DataFrame,
      threshold: Double): DataFrame = {
    val inter = cand.select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("s")),
        Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      // floorAt, not round: i/union is a small-denominator rational —
      // it can tie exactly at the output grain and the engines break
      // ties differently (see Quant)
      .select(col("doc_a"), col("doc_b"),
        Quant.floorAt(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-document repeated-substring accounting — the word-n-gram
    * approximation of exact-substring training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022:
    * remove substrings that recur verbatim across documents, don't drop
    * whole near-dup docs). A position-p n-gram whose document frequency
    * is ≥ `minDf` marks tokens [p, p+n-1] of every doc containing it as
    * repeated; per doc this emits the removal accounting a curation
    * pipeline acts on: token count, hit-gram count, covered-token count,
    * and the number of maximal covered runs (merged spans).
    *
    * Scale shape: grams shuffle as 16-char md5 prefixes (never 8-word
    * strings); doc frequency is one map-side-combined aggregate; the
    * flat gram table is materialized ONCE and feeds both the df filter
    * and the hit join (co-partitioned on the gram hash). Span coverage
    * is a bounded-frame window (`n` rows) partitioned by doc_id — a
    * high-cardinality key, so unlike a per-source window there is no
    * hot-partition hazard, and the frame never exceeds the doc. Work is
    * O(total tokens), the floor for per-token accounting.
    */
  def repeatedSpanStats(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDf: Int = 2): DataFrame =
    repeatedSpanCoverage(docs, idCol, textCol, n, minDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("hit").as("n_hit_grams"),
        sum("covered").as("n_repeated_tokens"),
        sum(when(col("covered") === 1 && col("prev_cov") === 0, 1)
          .otherwise(0)).as("n_spans"))

  /** The APPLY form of [[repeatedSpanStats]]: rebuild each doc's text with
    * every covered token removed (the actual Lee-et-al-style cut, not just
    * the accounting). Per-doc token order is restored with an in-group
    * array_sort — bounded by one doc's tokens, never a partition sort.
    * Fully-covered docs survive as empty strings (the curation pipeline
    * decides whether to drop them — that's a policy filter, not dedup).
    */
  def removeRepeatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDf: Int = 2): DataFrame =
    repeatedSpanCoverage(docs, idCol, textCol, n, minDf)
      .groupBy("doc_id")
      .agg(
        sum(when(col("covered") === 0, 1).otherwise(0)).as("n_tokens_kept"),
        // collect_list drops the nulls the `when` leaves on covered rows
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("covered") === 0, struct(col("tpos"), col("tok"))))),
          s => s("tok"))).as("clean_text"))

  /** Shared per-token coverage frame for the repeated-span pair: one row
    * per (doc, token position) with `hit` (a df≥minDf gram STARTS here),
    * `covered` (some hit gram overlaps this token), and `prev_cov` (the
    * previous position's coverage — span starts are covered ∧ ¬prev).
    */
  private[operators] def repeatedSpanCoverage(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // materialize: the tokenized frame feeds BOTH the gram branch and the
    // token branch — left as lineage the scan + split + repartition (the
    // dominant cost) would run once per branch
    val d = docs.repartition(par)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .materialize()
    // guarded sequence: Spark's sequence(1, size-n+1) runs DESCENDING for
    // docs shorter than n tokens — they have no grams, not reversed ones
    val gramsOf = when(size(col("w")) >= n,
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => substring(md5(concat_ws(" ", slice(col("w"), i, lit(n)))), 1, 16)))
      .otherwise(array().cast("array<string>"))
    val grams = d.select(col("doc_id"), posexplode(gramsOf).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("gpos"), col("gh"))
      .materialize() // feeds the df filter AND the hit join
    val hot = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf).select("gh")
    val hits = grams.join(hot, "gh")
      .select(col("doc_id").as("hdoc"), col("gpos"))
    val toks = d.select(col("doc_id"), posexplode(col("w")).as(Seq("t0", "tok")))
      .select(col("doc_id"), (col("t0") + 1).cast("int").as("tpos"), col("tok"))
    // token t is covered iff some hit gram starts in [t-n+1, t]: one
    // bounded-frame max over the doc's positions; span starts fall out of
    // a lag on the coverage flag in the same sort
    val wCov = Window.partitionBy("doc_id").orderBy("tpos")
      .rowsBetween(-(n - 1), 0)
    val wSeq = Window.partitionBy("doc_id").orderBy("tpos")
    toks
      .join(hits, col("doc_id") === col("hdoc") && col("tpos") === col("gpos"),
        "left")
      .select(col("doc_id"), col("tpos"), col("tok"),
        when(col("gpos").isNotNull, 1).otherwise(0).as("hit"))
      .withColumn("covered", max("hit").over(wCov))
      .withColumn("prev_cov", lag("covered", 1, 0).over(wSeq))
  }

  /** Incremental near-dup maintenance against a persisted bucketed LSH
    * index, as a ONE-SHOT demonstration: given a corpus where `isNew`
    * marks the fresh batch, emit exactly the near-dup pairs that TOUCH a
    * new doc (new×old and new×new), never re-pairing the settled corpus
    * against itself.
    *
    * This is the [[LshIndex]] lifecycle run end-to-end inside one call —
    * build the index from the settled docs, then one [[LshIndex.ingest]]
    * cycle for the new batch — so the oracle-checked identity
    * (`dedup_incremental`: incremental ≡ full-batch pairs restricted to
    * pairs-touching-new) exercises the SAME code the multi-ingest
    * deployment runs. Production keeps the index table across ingests and
    * calls `LshIndex.ingest` per batch (O(new) write volume per cycle,
    * settled index files byte-identical — `LshIndexSpec`); the build here
    * exists only because a single self-contained query has no prior cycle
    * to inherit an index from.
    *
    * `workDir`: storage every executor can reach for the throwaway index
    * (deleted before returning). The default driver-local temp dir is
    * unreachable from remote executors, so it refuses non-local masters.
    */
  def minhashLshPairsIncremental(
      docs: DataFrame, isNew: Column, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      buckets: Int = 16, workDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    require(workDir.isDefined || spark.sparkContext.isLocal,
      "minhashLshPairsIncremental: the default workDir builds the " +
        "throwaway index on the DRIVER's local disk, which executors on " +
        "a non-local master cannot reach — pass workDir on shared storage")
    val tmp = workDir.getOrElse(java.nio.file.Files
      .createTempDirectory("graft_lshidx").toString)
    val tag = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
    val it = s"graft_lsh_index_$tag"
    try {
      LshIndex.build(docs.filter(!isNew), idCol, textCol,
        s"$tmp/index", it, k, bands, buckets)
      LshIndex.ingest(spark, it, docs.filter(isNew), docs,
        idCol, textCol, threshold)
        .materializeForced() // the index table is dropped in the finally —
                             // lineage must sever in EVERY mode, incl. none
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $it")
      // Hadoop-FS delete: works for the temp fallback AND an hdfs://
      // or s3a:// workDir alike
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  /** [[minhashLshPairsIncremental]] against a PERSISTED index table that
    * OUTLIVES the call — the amortized production shape: the settled
    * corpus is banded and bucketed only when `table` doesn't exist yet;
    * every call thereafter pays one [[LshIndex.ingest]] cycle (O(new)
    * band + append + zero-exchange probe).
    *
    * Output is invariant under repeated calls with the same batch: a
    * re-ingested batch appends band rows that already exist, which only
    * yields duplicate candidate rows — and candidates collapse through
    * the pair `distinct()` before verification. So a gate battery (or a
    * replayed at-least-once ingest) sharing one index across passes
    * hash-matches the single-cycle result exactly; `IncrementalDedupSpec`
    * pins the identity.
    */
  def minhashLshPairsIncrementalAmortized(
      docs: DataFrame, isNew: Column, idCol: String, textCol: String,
      table: String, path: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      buckets: Int = 16, buildLabel: String = "lsh_index_base",
      storeFixtures: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    if (!spark.catalog.tableExists(table))
      LshIndex.buildOrServe(docs.filter(!isNew), idCol, textCol,
        path, table, k, bands, buckets, buildLabel, storeFixtures)
    LshIndex.ingest(spark, table, docs.filter(isNew), docs,
      idCol, textCol, threshold)
  }
}
