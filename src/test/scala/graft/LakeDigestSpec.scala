package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-digest contract (opt-in `digest = true` at publish): the
  * change feed skips partitions whose (count, xor-of-row-hashes) agree
  * across a step — the FULL-republish case owner-map pruning cannot see
  * through — while staying exactly equal to the undigested diff on
  * every changed partition; deltas inherit donor digest entries at
  * O(changed); schema drift disables cross-generation skipping
  * conservatively; a side without digests falls back to the full diff.
  */
class LakeDigestSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_lakedig").toString + "/lake"

  private def cleanup(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)

  private def heavyCorpus(edit: String => String = identity): DataFrame = {
    val light = (0 until 20).map(j => (s"g0-$j", "g0", edit(s"light $j")))
    val heavy = (0 until 20000).map(j =>
      (s"g1-$j", "g1", ("lorem ipsum " * 40) + j))
    (light ++ heavy).toDF("id", "k", "text")
  }

  private def heavyBytes(root: String, dir: String): Long = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dir), true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  private def feedRows(root: String, from: Long, to: Long)
      : Set[(Long, String, String)] =
    Lake.changesBetween(spark, root, from, to, "id", "text")
      .select("v", "id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("identical full republish with digests: the feed emits nothing " +
      "and reads no partition data") {
    val root = tmp()
    try {
      Lake.publishVersion(heavyCorpus(), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      Lake.publishVersion(heavyCorpus(), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      val g1 = heavyBytes(root, s"$root/v=0/k=g1")
      val read = bytesReadDuring {
        assert(feedRows(root, 0L, 1L) === Set.empty)
      }
      // only the two tiny _DIGEST parquets are read — nothing from the
      // corpus, although every dir's physical owner differs
      assert(read < g1 / 10, s"digested feed read $read bytes of $g1")
    } finally cleanup(root)
  }

  test("a zero's sign is content: republishing with 0.0 flipped to -0.0 " +
      "must NOT digest-skip (Spark's hash normalizes the zeros — the one " +
      "unsafe-skip hole, closed by the sign mask)") {
    val root = tmp()
    // the flipped zero rides a non-content column, so the proof is in
    // the BYTES: the digest must disagree and force the heavy dir to be
    // read (the feed itself hashes only contentCol and rightly emits
    // nothing — identical to what the undigested full diff would say)
    def scored(z: Double): DataFrame = heavyCorpus()
      .withColumn("score",
        when(col("id") === "g1-0", lit(z)).otherwise(lit(1.5)))
    try {
      Lake.publishVersion(scored(0.0), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      Lake.publishVersion(scored(-0.0), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      // the read is COLUMN-PRUNED to (id, text) — text compresses ~50×
      // here — so the bar is the skip CONTROL, not the raw file bytes:
      // the flipped zero must force a real read of the g1 pair while a
      // truly identical republish reads ~nothing
      val read = bytesReadDuring {
        assert(feedRows(root, 0L, 1L) === Set.empty)
      }
      Lake.publishVersion(scored(-0.0), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      val readSame = bytesReadDuring {
        assert(feedRows(root, 1L, 2L) === Set.empty)
      }
      assert(read > 4 * math.max(readSame, 1L) && read > 4096,
        s"zero-sign flip was digest-skipped: read $read bytes vs " +
          s"$readSame for the identical-republish control")
    } finally cleanup(root)
  }

  test("history surfaces digest-skip health: digest_skip_from_prev flags " +
      "the version where a schema change (or digest-less publish) broke " +
      "the fingerprint chain — why a feed got slower, made visible") {
    val root = tmp()
    def corpus = Seq(("a", "g0", "t")).toDF("id", "k", "text")
    try {
      Lake.publishVersion(corpus, root, Seq("k"), Seq("id"),
        1000L, keep = 10, digest = true) // v0
      Lake.publishVersion(corpus, root, Seq("k"), Seq("id"),
        1000L, keep = 10, digest = true) // v1: chain intact
      Lake.publishVersion(corpus.withColumn("extra", lit(1L)), root,
        Seq("k"), Seq("id"), 1000L, keep = 10, digest = true) // v2: drift
      Lake.publishVersion(corpus.withColumn("extra", lit(1L)), root,
        Seq("k"), Seq("id"), 1000L, keep = 10) // v3: digest off
      val h = Lake.history(spark, root)
        .select("v", "digest_fp", "digest_skip_from_prev")
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getString(1)), if (r.isNullAt(2)) None
            else Some(r.getBoolean(2))))).toMap
      assert(h(0L)._1.nonEmpty && h(0L)._2.isEmpty) // no predecessor
      assert(h(1L)._2 === Some(true), s"chain intact at v1: ${h(1L)}")
      assert(h(2L)._2 === Some(false), s"drift visible at v2: ${h(2L)}")
      assert(h(2L)._1.nonEmpty && h(2L)._1 != h(1L)._1)
      assert(h(3L)._1.isEmpty && h(3L)._2 === Some(false))
      // the fingerprint self-describes its hash ALGORITHM (r16 advice):
      // a digest written by a different algorithm version — e.g. the
      // untagged pre-r17 format — compares as a visible fingerprint
      // mismatch (skip disabled) instead of silently full-diffing as
      // same-fingerprint/different-hash
      assert(h(1L)._1.exists(_.startsWith("alg=")), h(1L)._1)
    } finally cleanup(root)
  }

  test("one changed partition between full publishes: the feed reads " +
      "that partition only and equals the undigested diff") {
    val root = tmp()
    try {
      Lake.publishVersion(heavyCorpus(), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      Lake.publishVersion(heavyCorpus(t => t + " edited"), root,
        Seq("k"), Seq("id"), 1000000L, keep = 10, digest = true)
      val g1 = heavyBytes(root, s"$root/v=0/k=g1")
      var got: Set[(Long, String, String)] = Set.empty
      val read = bytesReadDuring { got = feedRows(root, 0L, 1L) }
      assert(got === (0 until 20)
        .map(j => (1L, s"g0-$j", "changed")).toSet)
      assert(read < g1 / 2,
        s"feed read $read bytes; unchanged g1 holds $g1")
      // and the skip changed nothing vs the ground-truth full diff
      assert(got === Lake.diffVersions(spark, root, 0L, 1L, "id", "text")
        .select("id", "change").collect()
        .map(r => (1L, r.getString(0), r.getString(1))).toSet)
    } finally cleanup(root)
  }

  test("a side without digests falls back to the full diff with " +
      "identical rows") {
    val root = tmp()
    try {
      Lake.publishVersion(heavyCorpus(), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true)
      Lake.publishVersion(heavyCorpus(t => t + " e"), root,
        Seq("k"), Seq("id"), 1000000L, keep = 10) // no digest
      assert(feedRows(root, 0L, 1L) ===
        (0 until 20).map(j => (1L, s"g0-$j", "changed")).toSet)
    } finally cleanup(root)
  }

  test("deltas inherit donor digest entries: a full republish of the " +
      "delta's exact content feeds as empty without reading the corpus") {
    val root = tmp()
    try {
      Lake.publishVersion(heavyCorpus(), root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true) // v0
      val editedG0 = (0 until 20)
        .map(j => (s"g0-$j", "g0", s"light $j [d]")).toDF("id", "k", "text")
      Lake.publishDelta(editedG0, root, Seq("k"), Seq("id"),
        1000000L, keep = 10, digest = true) // v1: own g0, inherits g1
      // v2: a FULL republish of exactly v1's resolved content
      Lake.publishVersion(
        heavyCorpus().filter(col("k") =!= "g0").unionByName(editedG0),
        root, Seq("k"), Seq("id"), 1000000L, keep = 10, digest = true)
      val g1 = heavyBytes(root, s"$root/v=0/k=g1")
      val read = bytesReadDuring {
        assert(feedRows(root, 1L, 2L) === Set.empty)
      }
      // g0 skips via v1's OWN digest row; g1 skips via the entry v1
      // INHERITED from v0's digest — both without touching the corpus
      assert(read < g1 / 10, s"delta-digest feed read $read of $g1")
    } finally cleanup(root)
  }

  test("digest keys are dir paths, not re-inferred values: partitions " +
      "'1' and '01' (which type inference would conflate) skip and diff " +
      "independently") {
    val root = tmp()
    try {
      // two dirs whose STRING values collapse to the same int under
      // Spark's partition type inference — a value-keyed digest would
      // merge them into one entry and could false-skip a content swap
      def corpus(t1: String, t01: String) = Seq(
        ("a-1", "1", t1), ("a-2", "01", t01)).toDF("id", "k", "text")
      Lake.publishVersion(corpus("alpha", "beta"), root, Seq("k"),
        Seq("id"), 1000L, keep = 10, digest = true)
      // swap the contents between the dirs: the combined multiset is
      // unchanged, so a conflated digest would skip both and miss it
      Lake.publishVersion(corpus("beta", "alpha"), root, Seq("k"),
        Seq("id"), 1000L, keep = 10, digest = true)
      assert(feedRows(root, 0L, 1L) ===
        Set((1L, "a-1", "changed"), (1L, "a-2", "changed")))
      // and an identical republish still skips both dirs
      Lake.publishVersion(corpus("beta", "alpha"), root, Seq("k"),
        Seq("id"), 1000L, keep = 10, digest = true)
      val read = bytesReadDuring {
        assert(feedRows(root, 1L, 2L) === Set.empty)
      }
      assert(read === 0L, s"identical republish read $read bytes")
    } finally cleanup(root)
  }

  test("digest keys survive hive-escaped partition values (spaces, " +
      "percent, equals, slash, null-sentinel prefix): identical " +
      "republish still skips at zero bytes") {
    val root = tmp()
    try {
      // no raw-unicode value: the sandbox JVM's file.encoding cannot
      // create such a dir on the local FS (Spark's own writer throws
      // InvalidPathException before any lake code runs); the digest
      // codec URL-encodes rel paths, so unicode is covered by the codec
      val hostile = Seq("plain", "with space", "100%sure", "a=b",
        "path/slash", "__HIVE_DEFAULT_PARTITION__x")
      def corpus = hostile.zipWithIndex.map { case (k, i) =>
        (s"d-$i", k, s"text $i") }.toDF("id", "k", "text")
      Lake.publishVersion(corpus, root, Seq("k"), Seq("id"), 1000L,
        keep = 10, digest = true)
      Lake.publishVersion(corpus, root, Seq("k"), Seq("id"), 1000L,
        keep = 10, digest = true)
      val read = bytesReadDuring {
        assert(feedRows(root, 0L, 1L) === Set.empty)
      }
      assert(read === 0L,
        s"hostile-partition identical republish read $read bytes")
      // and a real change in an escaped dir is still detected
      Lake.publishVersion(
        corpus.withColumn("text",
          when(col("k") === "100%sure", lit("edited")).otherwise(col("text"))),
        root, Seq("k"), Seq("id"), 1000L, keep = 10, digest = true)
      assert(feedRows(root, 1L, 2L) === Set((2L, "d-2", "changed")))
    } finally cleanup(root)
  }

  test("in-write digest ≡ read-back digest: same input publishes the " +
      "same _DIGEST entries through both paths (escaped values, nulls, " +
      "multi-level partitions, -0.0, nested column)") {
    def digestBody(root: String, v: Long): (String, Set[String]) = {
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(root, s"v=$v/_DIGEST"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = txt.linesIterator.toSeq
      (lines.head, lines.tail.toSet)
    }
    // every escaping/typing hazard in one corpus: hostile string values,
    // a null partition value, a second integral partition level, a
    // -0.0/null double and a nested array column (json hash path)
    val corpus = Seq(
      ("a", "plain", 1L, Some(1.5), Seq("x")),
      ("b", "with space", 1L, Some(-0.0), Seq("y", "z")),
      ("c", "a=b/c%d", 2L, None, Seq.empty[String]),
      ("d", null, 2L, Some(0.0), Seq("w")),
      ("e", "", 3L, Some(2.5), null)
    ).toDF("id", "k", "b", "score", "tags")
    // the read-back reference, split as digestBody splits a `_DIGEST`
    def reference(root: String, v: Long): (String, Set[String]) = {
      val lines = DigestReference.body(spark, root, v).linesIterator.toSeq
      (lines.head, lines.tail.toSet)
    }
    val root = tmp()
    try {
      Lake.publishVersion(corpus, root, Seq("k", "b"), Seq("id"), 1000L,
        keep = 3, digest = true) // in-write
      assert(digestBody(root, 0L) === reference(root, 0L),
        "the in-write digest and the read-back reference disagree")
      // and deltas: own entries in-write, donors inherited — parity again
      val delta = corpus.filter(col("k") === "plain")
        .withColumn("score", lit(9.5))
      Lake.publishDelta(delta, root, Seq("k", "b"), Seq("id"), 1000L,
        keep = 3, digest = true)
      assert(digestBody(root, 1L) === reference(root, 1L),
        "the in-write digest and the read-back reference disagree on a " +
          "delta")
    } finally cleanup(root)
  }

  test("varchar fingerprints as string: a session that keeps varchar " +
      "types and one that reads them as string publish identical digests " +
      "through either digest path, so an identical republish skips; " +
      "reads and merges keep the session's own varchar typing") {
    def digestBody(root: String, v: Long): String = {
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(root, s"v=$v/_DIGEST"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // on: DataFrame schemas and parquet inference keep varchar(20);
    // off (the default): both see string
    val key = "spark.sql.preserveCharVarcharTypeInfo"
    val prior = spark.conf.getOption(key)
    def corpus() = (0 until 40).map(j => (s"d-$j", s"g${j % 2}", s"t $j"))
      .toDF("id", "k", "text")
      .withColumn("text", col("text").cast("varchar(20)"))
    // policy "any": the schema policy itself calls varchar -> string a
    // type change
    def publish(root: String): Long =
      Lake.publishVersion(corpus(), root, Seq("k"), Seq("id"), 1000L,
        keep = 10, schemaPolicy = "any", digest = true)
    val rootA = tmp(); val rootB = tmp()
    try {
      spark.conf.set(key, "true")
      assert(corpus().schema("text").dataType ===
        org.apache.spark.sql.types.VarcharType(20))
      publish(rootA) // v0
      publish(rootB)
      // the read-back reference, varchar inferred from the files
      val readBack = DigestReference.body(spark, rootA, 0L)
      spark.conf.set(key, "false")
      assert(corpus().schema("text").dataType ===
        org.apache.spark.sql.types.StringType)
      publish(rootA) // v1: the same rows, typed string
      assert(digestBody(rootA, 1L) === digestBody(rootA, 0L))
      assert(readBack === digestBody(rootA, 0L))
      assert(digestBody(rootB, 0L) === digestBody(rootA, 0L))
      assert(feedRows(rootA, 0L, 1L).isEmpty)
      assert(Lake.readVersion(spark, rootA, Some(0L)).schema("text")
        .dataType === org.apache.spark.sql.types.StringType)
      // a varchar-keeping session reads varchar back and merges varchar
      // upserts against the recorded varchar schema
      spark.conf.set(key, "true")
      assert(Lake.readVersion(spark, rootB).schema("text").dataType ===
        org.apache.spark.sql.types.VarcharType(20))
      Lake.mergeDelta(corpus().filter(col("k") === "g0")
          .withColumn("op", lit("upsert")), rootB, Seq("id"), Seq("k"),
        Seq("id"), 1000L, keep = 10)
      assert(feedRows(rootB, 0L, 1L).isEmpty)
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      cleanup(rootA); cleanup(rootB)
    }
  }

  test("additive schema drift disables cross-generation skipping " +
      "conservatively — the feed stays correct") {
    val root = tmp()
    try {
      val base = (0 until 40).map(j => (s"d-$j", s"g${j % 2}", s"t $j"))
        .toDF("id", "k", "text")
      Lake.publishVersion(base, root, Seq("k"), Seq("id"), 1000000L,
        keep = 10, digest = true)
      // delta adds a column (fingerprint changes): donor entries are
      // dropped, its own dirs digest under the new fingerprint
      Lake.publishDelta(
        base.filter(col("k") === "g0")
          .withColumn("text", concat(col("text"), lit("!")))
          .withColumn("score", lit(1.0)),
        root, Seq("k"), Seq("id"), 1000000L, keep = 10, digest = true)
      assert(feedRows(root, 0L, 1L) === (0 until 40).filter(_ % 2 == 0)
        .map(j => (1L, s"d-$j", "changed")).toSet)
    } finally cleanup(root)
  }
}
