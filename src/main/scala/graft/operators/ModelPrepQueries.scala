package graft.operators

import graft.Materialize.Ops
import graft.QueryRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-prep operator family (SURVEY.md §2.10 X4 extension): the
  * retrieval / data-selection / tokenizer-training primitives an LLM data
  * pipeline runs between curation and training.
  *
  * - BM25: the standard retrieval score (Robertson/Sparck-Jones idf with
  *   the Lucene +1 floor) — what a retrieval-augmented dedup or hard-
  *   negative miner ranks candidate documents with.
  * - DSIR: importance weights for data selection (Xie et al., NeurIPS'23
  *   shape): per-token log-likelihood ratio of a target-domain unigram LM
  *   vs the corpus LM, add-1 smoothed. Positive = more target-like.
  * - BPE pair stats + merge iteration 1: byte-pair-encoding tokenizer
  *   training — corpus-wide adjacent-symbol-pair frequencies, then the
  *   learned top merge applied corpus-wide by a greedy fold and pairs
  *   recounted (the actual training-loop step).
  *
  * All are exact and oracle-checked; doubles only appear in identically-
  * parenthesized expression trees over integer aggregates (both engines
  * then produce bit-identical IEEE results), order-dependent double SUMS
  * are avoided entirely (anything summed is an integer or a quantized
  * long — commutative), and every transcendental (ln) is quantized at
  * 1e-4 grain before it feeds anything rounded, so a 1-ulp libm
  * divergence between engines cannot flip an output (the hazard dsir hit
  * at sf0.1 with 1e-6 grain).
  *
  * 100 TB shapes: everything reduces to token explode → map-side-combinable
  * (doc, word) histogram → vocabulary-keyed joins. The histogram is the
  * only corpus-sized shuffle; model/scalar tables are vocabulary-bounded
  * (shuffle join on word — NOT broadcast: a web-scale vocabulary exceeds
  * broadcast range) or single-row broadcasts.
  */
object ModelPrepQueries extends QueryRegistry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Merge iterations for text_bpe_mergen / text_bpe_tokenize —
    * interpolated into BOTH the Spark loop and the unrolled oracle CTE
    * chains (single source of truth, same contract as DedupQueries'
    * df-cap constants). */
  private val bpeMerges = 4

  /** The BPE training loop over a (w, c) word histogram: `bpeMerges`
    * iterations of (adjacent-symbol pair count weighted by word frequency
    * → argmax with (n DESC, a, b) tie-break → greedy left-to-right fold
    * re-segmenting every distinct word). One uniform representation
    * drives it — a word's segmentation as a space-joined symbol string
    * (symbols never contain spaces, so ' ' is a safe separator) — which
    * is why merges 2+ correctly operate on multi-char symbols
    * ("th"+"e" → "the"), unlike a char-substr learn step.
    *
    * Returns the ordered 1-row merge tables (it, pair, n) and the final
    * segmentation state (w, c, seg). `applyLast` controls whether the
    * Nth learned merge is folded into the returned segmentation: the
    * merge-table query doesn't need it, the tokenizer-application query
    * does.
    *
    * Shape per iteration: one vocabulary-sized map-side-combinable pair
    * aggregate (symbol-pair-bounded key space) + one narrow fold over
    * DISTINCT words — corpus size only enters through the caller's
    * histogram. At 100 TB the loop is N jobs over a vocab-sized table;
    * the learned table is the only driver state.
    */
  private def bpeTrain(wc: DataFrame, applyLast: Boolean)
      : (List[DataFrame], DataFrame) = {
    var seg = wc.select(col("w"), col("c"),
      concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("seg"))
      .materialize() // iterated state: (word, count, segmentation)
    val sp = split(col("seg"), " ")
    var learned = List.empty[DataFrame]
    for (it <- 1 to bpeMerges) {
      val top = seg.filter(size(sp) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), size(sp) - 1),
          i => struct(element_at(sp, i).as("a"),
            element_at(sp, i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .materialize() // 1 row; feeds the merge table AND the next fold
      learned ::= top.select(lit(it).as("it"),
        concat(col("a"), lit(" "), col("b")).as("pair"), col("n"))
      if (it < bpeMerges || applyLast) {
        val ab = concat(col("a"), col("b"))
        // greedy left-to-right apply: the accumulator's LAST symbol is
        // either the whole string (first position, acc === a) or the
        // suffix after the last space — endswith(' '||a) identifies it
        // exactly because symbols are space-free
        val folded = aggregate(
          slice(sp, lit(2), size(sp) - 1),
          element_at(sp, 1),
          (acc, x) =>
            when(acc === col("a") && x === col("b"), ab)
              .when(endswith(acc, concat(lit(" "), col("a"))) &&
                x === col("b"),
                concat(
                  acc.substr(lit(1), length(acc) - length(col("a")) - 1),
                  lit(" "), ab))
              .otherwise(concat(acc, lit(" "), x)))
        seg = seg.crossJoin(broadcast(top.select(col("a"), col("b"))))
          .select(col("w"), col("c"), folded.as("seg"))
          .materialize()
      }
    }
    (learned.reverse, seg)
  }

  /** Session-shared TRAINED tokenizer state: the (w, c, seg) segmentation
    * of every distinct corpus word under the learned merge table
    * (applyLast = true), persisted once per (session, corpus
    * fingerprint). A tokenizer is the canonical train-once artifact —
    * `text_bpe_mergen` stays the fresh training measurement (the
    * producer), while the APPLICATION queries (tokenize rollup, packing)
    * consume the trained state, exactly as production segments with a
    * shipped tokenizer instead of retraining per job. Vocab-sized but
    * data-derived, so persisted parquet rather than driver rows; the
    * loop is deterministic (argmax tie-break pinned) and (string, long,
    * string) round-trips exactly, so consumers keep unchanged oracles.
    */
  private def sharedBpeSeg(s: SparkSession, dir: String): DataFrame = {
    // session-shared: the trained segmentation is deterministic files
    // derived from the documents corpus
    val path = TrainedCache.sharedPath(s, "bpe_segmentation",
      Seq(s"$dir/documents.parquet")) { tmp =>
      val p = s"$tmp/seg"
      val wc = docs(s, dir)
        .select(explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("c"))
      bpeTrain(wc, applyLast = true)._2
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BM25 (k1=1.2, b=0.75, Lucene idf) of every document against the 3
    // highest-frequency corpus terms (data-derived query — deterministic,
    // no fixture-vocabulary assumption), top-10 docs per term.
    // Shape: one (doc, word) histogram shuffle; doc lengths ride the same
    // histogram (sum of tf) instead of a second corpus pass; per-word df
    // and the query-term top-k are vocabulary-sized reaggregations; the
    // scoring join hits only the 3 query terms' postings (a selective
    // semi-join, broadcast from the tiny query side); final top-10 is a
    // bounded window over ≤3×n_docs scored rows.
    "text_bm25" -> ((s, dir) => {
      val d = docs(s, dir)
      val tf = d.select(col("doc_id"),
          explode(TextDedup.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .materialize() // feeds dl, word stats, and the scoring join — one
                       // corpus explode+histogram pass, not four (verified
                       // against the pre-materialize plan's 4 parquet scans)
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val ws = tf.groupBy("word")
        .agg(count(lit(1)).as("df"), sum("tf").as("ctot"))
      val qterms = ws.orderBy(col("ctot").desc, col("word")).limit(3)
        .select("word", "df")
      val scal = dl.agg(count(lit(1)).as("n_docs_total"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      // idf carries the expression's only transcendental — quantize it to
      // 1e-4 (round(ln·1e4)/1e4: identical integer → identical double on
      // both engines) so a 1-ulp libm ln() divergence cannot flip the
      // 6-decimal output rounding (the hazard text_dsir hit at sf0.1);
      // everything else in the score is rational arithmetic on integer
      // aggregates, bit-identical across engines by construction.
      val idf = round(log((col("n_docs_total") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) * lit(1e4), 0) / lit(1e4)
      val tfc = (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      val w = Window.partitionBy("word")
        .orderBy(col("bm25").desc, col("doc_id"))
      tf.join(broadcast(qterms), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(scal))
        .withColumn("bm25", round(idf * tfc, 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("word", "rk", "doc_id", "bm25")
    }),
    // DSIR-style data selection: per-token unigram log-likelihood ratio of
    // the target domain (lang='en') vs the whole corpus, add-1 smoothed
    // over the joint vocabulary. keep = doc reads more target-like than
    // corpus-average. Per-word contributions are quantized to 10⁻⁶ longs
    // BEFORE the per-doc sum so the aggregation is summation-order-free.
    // Shape: the (doc, word) histogram shuffle; the model is a
    // vocabulary-sized reaggregation of it (c_src and c_tgt in ONE pass —
    // no second corpus scan for the target counts); scoring joins the
    // histogram to the model on word (vocabulary-keyed shuffle join, not
    // broadcast) and sums longs per doc.
    "text_dsir" -> ((s, dir) => {
      val cnt = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextDedup.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("c"))
        .materialize() // feeds the model build (twice: model + scalars)
                       // and the scoring join — one corpus explode pass
      val model = cnt.groupBy("w").agg(sum("c").as("c_src"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("c_tgt"))
      val scal = model.agg(sum("c_src").as("s_tot"), sum("c_tgt").as("t_tot"),
        count(lit(1)).as("v"))
      // Per-word quantization grain is 1e-4, NOT 1e-6: the two engines'
      // libm ln() differ by up to 1 ulp, and at 1e-6 grain that flipped a
      // word's rounded contribution at sf0.1 (one .5-boundary hit across
      // the vocabulary → a 1e-6 output mismatch). At 1e-4 the flip needs
      // the scaled ln to land within ~1e-11 of a rounding boundary —
      // negligible even at a web-scale vocabulary — and 1e-4-per-token
      // resolution is far finer than any data-selection threshold. The
      // output division below is then exact integer arithmetic on both
      // engines.
      val qln = round(
        (log((col("c_tgt") + lit(1.0)) / (col("t_tot") + col("v"))) -
          log((col("c_src") + lit(1.0)) / (col("s_tot") + col("v")))) *
          lit(1e4), 0).cast("long")
      cnt.join(model, "w")
        .crossJoin(broadcast(scal))
        .select(col("doc_id"), col("c"), (col("c") * qln).as("contrib"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), sum("contrib").as("sw"))
        // per-token output at 1e-6 grain via floor, NOT round: sw/n is a
        // ratio of small integers, so it can land EXACTLY on a .5 tie at
        // the output grain (one doc did at sf0.001) — and the engines
        // break ties differently (Spark HALF_UP vs DuckDB's half-even
        // nearbyint). floor is tie-free: sw*100 is an exact double
        // (≪ 2^53) and the single division is correctly rounded, so both
        // engines floor the IDENTICAL double. 1e-6 truncation vs rounding
        // is semantically nil for a selection score.
        .select(col("doc_id"), col("n_tokens"),
          (floor(col("sw").cast("double") * lit(100) / col("n_tokens"))
            / lit(1e6)).as("logratio_per_tok"),
          (col("sw") > 0L).as("keep"))
    }),
    // BPE tokenizer training, merge iteration 1: learn the top pair from
    // iteration 0 (argmax with deterministic tie-break, a 1-row broadcast),
    // APPLY it corpus-wide — each word's char sequence re-segmented by a
    // greedy left-to-right fold (Spark `aggregate` HOF / DuckDB
    // `list_reduce`, byte-identical greedy semantics: "aaaa" with merge
    // (a,a) → "aa aa") — and recount adjacent SYMBOL pairs. This is the
    // actual BPE training loop step: one broadcast of the learned merge +
    // one narrow re-segmentation pass per iteration, the aggregate bounded
    // by the symbol-pair space — the 100 TB shape of distributed tokenizer
    // training.
    "text_bpe_merge1" -> ((s, dir) => {
      // fold each DISTINCT word once (vocabulary-sized work, not corpus-
      // sized: the interpreted fold is the expensive step, and a Zipfian
      // corpus repeats words heavily — measured 4.2 s → sub-second at
      // sf0.1), carrying the occurrence count as a weight
      val wc = docs(s, dir)
        .select(explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .materialize() // feeds the merge-learning count AND the apply pass
      val top1 = wc.filter(length(col("w")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair"),
          substring(col("pair"), 1, 1).as("a"),
          substring(col("pair"), 2, 1).as("b"))
      val chars = transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))
      val folded = aggregate(
        slice(chars, lit(2), length(col("w")) - 1),
        element_at(chars, 1),
        (acc, x) =>
          when(acc === col("a") && x === col("b"), col("pair"))
            .when(endswith(acc, concat(lit(" "), col("a"))) && x === col("b"),
              concat(acc.substr(lit(1), length(acc) - length(col("a")) - 1),
                lit(" "), col("pair")))
            .otherwise(concat(acc, lit(" "), x)))
      val syms = wc.crossJoin(broadcast(top1))
        .select(col("w"), col("c"), split(folded, " ").as("s"))
      syms.filter(size(col("s")) >= 2)
        .select(col("w"), col("c"), explode(transform(
          sequence(lit(1), size(col("s")) - 1),
          i => concat(element_at(col("s"), i), lit(" "),
            element_at(col("s"), i + 1)))).as("pair"))
        .groupBy("pair")
        .agg(sum("c").as("n"), countDistinct("w").as("n_words"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // BPE tokenizer training, merges 1..N (N = 4): the full training loop,
    // generalized past merge 1. One uniform representation drives every
    // iteration — a word's segmentation as a space-joined symbol string
    // (symbols never contain spaces, so ' ' is a safe separator) — and each
    // iteration (a) counts adjacent SYMBOL pairs weighted by word
    // frequency, (b) takes the argmax with a deterministic (n DESC, a, b)
    // tie-break (a 1-row broadcast), (c) re-segments every distinct word by
    // the greedy left-to-right fold. Unlike merge 1's char-substr learn
    // step, the pair count reads the segmentation itself, so merges 2+
    // correctly operate on multi-char symbols ("th"+"e" -> "the"). Output
    // is the ordered merge table (it, pair, n) — the artifact a tokenizer
    // trainer actually produces.
    // Shape per iteration: one vocabulary-sized pair aggregate (map-side
    // combinable, symbol-pair-bounded key space) + one narrow fold over
    // DISTINCT words — corpus size only enters through the initial word
    // histogram. At 100 TB the loop runs N jobs over a vocab-sized table
    // that fits in memory; the learned table is the only driver state.
    "text_bpe_mergen" -> ((s, dir) => {
      val wc = docs(s, dir)
        .select(explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("c"))
      bpeTrain(wc, applyLast = false)._1.reduce(_.union(_))
    }),

    // BPE tokenizer APPLICATION: segment the corpus with the merge table
    // text_bpe_mergen learns — the loop's closing step — and report the
    // numbers a tokenizer trainer reports: per-language tokens/word
    // (fertility) and chars/token (compression). The per-(lang, word)
    // histogram is the one corpus-sized shuffle and feeds BOTH the global
    // training counts (reaggregation) and the final per-lang rollup; the
    // segmentation fold still touches only DISTINCT words, and per-word
    // token counts join back vocabulary-keyed — at 100 TB nothing
    // corpus-sized moves after the first histogram.
    "text_bpe_tokenize" -> ((s, dir) => {
      val wcl = docs(s, dir)
        .select(col("lang"), explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      // segmentation from the session-shared trained tokenizer (identical
      // counts: the global histogram is the lang rollup of this one)
      val tok = sharedBpeSeg(s, dir).select(col("w"),
        size(split(col("seg"), " ")).as("n_tok"))
      wcl.join(tok, "w")
        .groupBy("lang")
        .agg(sum("c").as("n_words"),
          sum(col("c") * length(col("w"))).as("n_chars"),
          sum(col("c") * col("n_tok")).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          // floorAt: integer ratios — tie-prone under round (see Quant)
          Quant.floorAt(
            col("n_tokens").cast("double") / col("n_words"), 6)
            .as("tokens_per_word"),
          Quant.floorAt(
            col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("chars_per_token"))
    }),

    // The tokenizer → packing handoff: pack training sequences by REAL
    // trained-tokenizer counts, not whitespace counts. Per-doc BPE token
    // mass = Σ over the doc's (word, count) histogram of the word's
    // segment count under the learned merge table — the per-(doc, word)
    // histogram is the one corpus-sized shuffle (materialized, feeding
    // the global training counts by reaggregation AND the per-doc
    // rollup); segmentation still folds DISTINCT words only, and the
    // token-count join back is vocabulary-keyed. Packing itself is the
    // two-phase prefix sum of Packing.packStatsItems — the serial window
    // sees n/1024 bucket rows, never the corpus. Docs whose every token
    // is empty (no length-≥1 words) pack with n = 0 via the left join —
    // same doc set as text_pack.
    "text_pack_bpe" -> ((s, dir) => {
      val d = docs(s, dir)
      val dw = d.select(col("doc_id"),
          explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      // per-doc rollup against the session-shared trained tokenizer (the
      // global (w, c) histogram is the doc rollup of this one, so the
      // training counts are identical)
      val tok = sharedBpeSeg(s, dir).select(col("w"),
        size(split(col("seg"), " ")).cast("long").as("n_tok"))
      val docTok = dw.join(tok, "w")
        .groupBy("doc_id").agg(sum(col("c") * col("n_tok")).as("n"))
      val items = d.select(col("doc_id"))
        .join(docTok, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n"))
      Packing.packStatsItems(items, 256)
    }),

    // BPE tokenizer training, merge iteration 0: corpus-wide frequency of
    // adjacent character pairs within words — the argmax pair is the first
    // merge a BPE trainer would learn. Integer-only; top-20 with
    // deterministic tie-break. Shape: narrow double explode (words, then
    // in-word pairs) → one map-side-combinable count keyed by a charset²-
    // bounded pair space → global bounded top-k. The n_words distinct count
    // shuffles (pair, word) — still vocabulary-bounded, never corpus-sized.
    "text_bpe_pairs" -> ((s, dir) => {
      val wrd = docs(s, dir)
        .select(explode(TextDedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
      wrd.select(col("w"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"), countDistinct("w").as("n_words"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }))

  /** Unrolled oracle CTE chain for the BPE loop: seg0 = chars joined by
    * ' '; per iteration i, CTEs p{i} (argmax adjacent-symbol pair) and
    * seg{i} (greedy fold apply) mirror the Spark loop step for step —
    * `applyLast` mirrors bpeTrain's flag. DuckDB's list_reduce seeds from
    * the first element, matching Spark's
    * aggregate(slice(s,2,...), element_at(s,1), ...). Assumes a preceding
    * `wc(w, c)` CTE. */
  private def bpeCtes(applyLast: Boolean): String = {
    val iter = (1 to bpeMerges).map { i =>
      val apply =
        if (i == bpeMerges && !applyLast) ""
        else s""",
           |seg$i AS (SELECT w, c, list_reduce(string_split(seg, ' '),
           |    (acc, x) -> CASE
           |      WHEN acc = a AND x = b THEN a || b
           |      WHEN ends_with(acc, ' ' || a) AND x = b
           |        THEN substr(acc, 1, length(acc) - length(a) - 1) ||
           |          ' ' || a || b
           |      ELSE acc || ' ' || x END) AS seg
           |  FROM seg${i - 1} CROSS JOIN p$i)""".stripMargin
      s"""p$i AS (SELECT p.a AS a, p.b AS b, CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, unnest(list_transform(
         |      generate_series(1, len(s) - 1),
         |      i -> {'a': s[i], 'b': s[i + 1]})) AS p
         |    FROM (SELECT c, string_split(seg, ' ') AS s FROM seg${i - 1})
         |    WHERE len(s) >= 2)
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1)$apply""".stripMargin
    }.mkString(",\n")
    s"""seg0 AS (SELECT w, c, array_to_string(list_transform(
       |    generate_series(1, length(w)), i -> substr(w, i, 1)), ' ') AS seg
       |  FROM wc),
       |$iter""".stripMargin
  }

  private val bpeMergeNSql = {
    val rows = (1 to bpeMerges)
      .map(i => s"SELECT $i AS it, a || ' ' || b AS pair, n FROM p$i")
      .mkString("\nUNION ALL\n")
    s"""WITH wc AS (SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1),
       |${bpeCtes(applyLast = false)}
       |$rows""".stripMargin
  }

  // Mirror of text_bpe_tokenize: wc reaggregates the per-(lang, word)
  // histogram (so training counts are identical to text_bpe_mergen's),
  // seg{N} carries ALL learned merges applied, and the rollup weights
  // per-word token counts by the per-language occurrence counts.
  private val bpeTokenizeSql =
    s"""WITH wcl AS (SELECT lang, w, count(*) AS c FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1, 2),
       |wc AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM wcl GROUP BY 1),
       |${bpeCtes(applyLast = true)},
       |tok AS (SELECT w, len(string_split(seg, ' ')) AS n_tok
       |  FROM seg$bpeMerges)
       |SELECT lang, CAST(sum(c) AS BIGINT) AS n_words,
       |  CAST(sum(c * n_tok) AS BIGINT) AS n_tokens,
       |  floor(CAST(sum(c * n_tok) AS BIGINT)::DOUBLE
       |    / CAST(sum(c) AS BIGINT) * 1000000) / 1000000.0
       |    AS tokens_per_word,
       |  floor(CAST(sum(c * length(w)) AS BIGINT)::DOUBLE
       |    / CAST(sum(c * n_tok) AS BIGINT) * 1000000) / 1000000.0
       |    AS chars_per_token
       |FROM wcl JOIN tok USING (w) GROUP BY 1""".stripMargin

  // Mirror of text_pack_bpe: same per-(doc, word) histogram, same learned
  // segmentation (bpeCtes over the reaggregated wc), per-doc token mass
  // via the vocabulary join, then the single-window cumsum form of the
  // two-phase prefix sum (bitwise-equal: all-integer arithmetic).
  private val bpePackSql =
    s"""WITH dw AS (SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1, 2),
       |wc AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM dw GROUP BY 1),
       |${bpeCtes(applyLast = true)},
       |tok AS (SELECT w, CAST(len(string_split(seg, ' ')) AS BIGINT)
       |    AS n_tok FROM seg$bpeMerges),
       |dt AS (SELECT doc_id, CAST(sum(c * n_tok) AS BIGINT) AS n
       |  FROM dw JOIN tok USING (w) GROUP BY 1),
       |items AS (SELECT d.doc_id, coalesce(dt.n, 0) AS n
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN dt USING (doc_id)),
       |cum AS (SELECT doc_id, n,
       |  sum(n) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS tok_start
       |  FROM items)
       |SELECT CAST(tok_start // 256 AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1""".stripMargin

  def oracles: Map[String, String] = Map(
    "text_bpe_mergen" -> bpeMergeNSql,
    "text_bpe_tokenize" -> bpeTokenizeSql,
    "text_pack_bpe" -> bpePackSql,
    // Literal doubles carry ::DOUBLE casts so DuckDB's DECIMAL literals
    // don't silently widen the arithmetic (see text_classify).
    "text_bm25" ->
      """WITH tf AS (SELECT doc_id, word, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
        |  GROUP BY 1),
        |ws AS (SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ctot
        |  FROM tf GROUP BY 1),
        |qt AS (SELECT word, df FROM ws ORDER BY ctot DESC, word LIMIT 3),
        |scal AS (SELECT count(*) AS n_docs_total,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT tf.word, tf.doc_id,
        |  round((round(ln((n_docs_total - df + 0.5::DOUBLE)
        |      / (df + 0.5::DOUBLE) + 1.0::DOUBLE) * 10000) / 10000.0)
        |    * ((tf * 2.2::DOUBLE) / (tf + 1.2::DOUBLE
        |      * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))), 6) AS bm25
        | FROM tf JOIN qt USING (word) JOIN dl USING (doc_id)
        |  CROSS JOIN scal)
        |SELECT word, rk, doc_id, bm25 FROM (
        |  SELECT word, doc_id, bm25,
        |    row_number() OVER (PARTITION BY word ORDER BY bm25 DESC, doc_id)
        |      AS rk
        |  FROM sc)
        |WHERE rk <= 10""".stripMargin,
    "text_dsir" ->
      """WITH cnt AS (SELECT doc_id, lang, w, count(*) AS c FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY 1, 2, 3),
        |model AS (SELECT w, CAST(sum(c) AS BIGINT) AS c_src,
        |  CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT)
        |    AS c_tgt
        | FROM cnt GROUP BY 1),
        |scal AS (SELECT CAST(sum(c_src) AS BIGINT) AS s_tot,
        |  CAST(sum(c_tgt) AS BIGINT) AS t_tot, count(*) AS v FROM model),
        |sc AS (SELECT doc_id, c,
        |  c * CAST(round((ln((c_tgt + 1.0::DOUBLE) / (t_tot + v))
        |    - ln((c_src + 1.0::DOUBLE) / (s_tot + v))) * 10000) AS BIGINT)
        |    AS contrib
        | FROM cnt JOIN model USING (w) CROSS JOIN scal)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        | floor(CAST(sum(contrib) AS BIGINT) * 100.0
        |   / CAST(sum(c) AS BIGINT)) / 1000000.0 AS logratio_per_tok,
        | CAST(sum(contrib) AS BIGINT) > 0 AS keep
        |FROM sc GROUP BY 1""".stripMargin,
    "text_bpe_merge1" ->
      """WITH wc AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 1 GROUP BY 1),
        |p0 AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM (
        |    SELECT c, unnest(list_transform(
        |      generate_series(1, length(w) - 1), i -> substr(w, i, 2)))
        |      AS pair
        |    FROM wc WHERE length(w) >= 2)
        |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |m AS (SELECT pair, substr(pair, 1, 1) AS a, substr(pair, 2, 1) AS b
        |  FROM p0),
        |f AS (SELECT w, c, list_reduce(
        |    list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
        |    (acc, x) -> CASE
        |      WHEN acc = a AND x = b THEN pair
        |      WHEN ends_with(acc, ' ' || a) AND x = b
        |        THEN substr(acc, 1, length(acc) - length(a) - 1) || ' ' || pair
        |      ELSE acc || ' ' || x END) AS folded
        |  FROM wc CROSS JOIN m),
        |sy AS (SELECT w, c, string_split(folded, ' ') AS s FROM f),
        |p AS (SELECT w, c, unnest(list_transform(
        |    generate_series(1, len(s) - 1), i -> s[i] || ' ' || s[i+1]))
        |    AS pair
        |  FROM sy WHERE len(s) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS n, count(DISTINCT w) AS n_words
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "text_bpe_pairs" ->
      """WITH w AS (SELECT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2),
        |p AS (SELECT w, unnest(list_transform(
        |    generate_series(1, length(w) - 1), i -> substr(w, i, 2))) AS pair
        |  FROM w)
        |SELECT pair, count(*) AS n, count(DISTINCT w) AS n_words
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin)
}
