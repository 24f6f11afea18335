package perfbench

/** Tests of the benchmark itself. Run with
  * `python3 perfbench/run.py --selftest`; prints PASS/FAIL per test and
  * returns the number of failures.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  def run(): Int = {
    test("reference fold matches the rcache.py transition table") {
      // (cached action, incoming action) -> cached action after _merge_row;
      // "-" is an absent key (rcache.py:196-222)
      val table = Seq(
        ("-", "insert", "insert"), ("-", "update", "update"), ("-", "delete", "delete"),
        ("insert", "insert", "insert"), ("insert", "update", "insert"),
        ("insert", "delete", "-"),
        ("update", "insert", "update"), ("update", "update", "update"),
        ("update", "delete", "delete"),
        ("delete", "insert", "update"), ("delete", "update", "update"),
        ("delete", "delete", "delete"))
      for ((old, in, want) <- table) {
        val o = if (old == "-") None else Some(old)
        eq(RefFold.step(o, in).getOrElse("-"), want, s"$old + $in:")
      }
      // a sequence folds left to right and the latest change supplies the
      // after-image: insert, update, delete annihilates; a later insert
      // starts over
      val acts = Array("insert", "update", "delete", "insert", "update")
      val st = RefFold.fold(0, acts.length, _ => 7L, i => acts(i.toInt))
      eq(st.get(7L), Some(RefFold.Net("insert", 4L)))
      val st2 = RefFold.fold(0, 3, _ => 7L, i => acts(i.toInt))
      eq(st2.get(7L), None)
    }

    test("tail percentile keeps at least ten samples beyond it") {
      eq(Stats.tailPercentile(200), Some(95.0), "n=200:")
      eq(Stats.tailPercentile(199), Some(90.0), "n=199:")
      eq(Stats.tailPercentile(1000), Some(99.0), "n=1000:")
      eq(Stats.tailPercentile(10000), Some(99.9), "n=10000:")
      eq(Stats.tailPercentile(40), Some(75.0), "n=40:")
      eq(Stats.tailPercentile(39), None, "n=39:")
      eq(Stats.pname(95.0), "p95")
      eq(Stats.pname(99.9), "p99.9")
      eq(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50), 2.5)
    }

    test("files map to the batch whose cumulative rows cover them") {
      import Stats.Batch
      val batches = Seq(Batch(0, 50, 0), Batch(100, 50, 250), Batch(200, 30, 150),
        Batch(300, 20, 100))
      eq(Stats.commitOfFiles(100, 5, batches).toSeq, Seq(150L, 150L, 230L, 230L, 320L))
      // a file no batch finished is reported as -1
      eq(Stats.commitOfFiles(100, 6, batches).last, -1L)
      eq(Stats.backlogMax(100, Seq(0L, 50L, 120L, 150L, 250L), batches), 2L)
    }

    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "perfbench-selftest").toString
    val spark = Main.session(2, root)
    try {
      test("generators: the same seed gives the same input hash") {
        val ctx = Ctx(spark, 11L, 2)
        val c = Gen.Changes(3000, 500, 0.7, 0.1, 0.1, 1767225600L, 86400L)
        val l = Gen.LakeSpec(2000, 4, 3, 50, 0.2, 0.2, 0.7)
        val cp = Gen.Corpus(300, 20, 1000, 20, 3, 1)
        val vs = Gen.Vectors(300, 4, 5, 3, 0.6, 0.02)
        def hashOf(seed: Long, d: String): String = {
          Gen.writeEvents(spark, c, seed, s"$d/sf", 2)
          Gen.writeChFiles(spark, c, seed, 100L, 100, 5, s"$d/staging", 2)
          Gen.writeLakeDeltas(spark, l, seed, s"$d/deltas", 2)
          Gen.writeDocs(spark, cp, seed, s"$d/docs", 2)
          Gen.writeVectors(spark, vs, seed, s"$d/emb", 2)
          Gen.combine(Seq(
            Gen.tableHash(spark.read.parquet(s"$d/sf/events.parquet")),
            Gen.tableHash(spark.read.parquet(s"$d/staging")),
            Gen.tableHash(Gen.lakeBase(spark, l, seed, 2)),
            Gen.tableHash(spark.read.parquet(s"$d/deltas")),
            Gen.tableHash(spark.read.parquet(s"$d/docs")),
            Gen.tableHash(spark.read.parquet(s"$d/emb"))))
        }
        val a = hashOf(ctx.seed, s"$root/a")
        eq(hashOf(ctx.seed, s"$root/b"), a, "same seed:")
        if (hashOf(ctx.seed + 1, s"$root/c") == a)
          throw new AssertionError("a different seed gave the same hash")
      }

      test("generators: planted structure and skew hold") {
        val c = Gen.Changes(200000, 100000, 0.7, 0.1, 0.1, 0L, 1L)
        val hot = (0L until c.n).count(i => c.key(3L, i) == Gen.scatter(0, c.nKeys))
        val share = hot.toDouble / c.n
        if (share < 0.004 || share > 0.015)
          throw new AssertionError(s"hottest key share $share not about 1%")
        val cp = Gen.Corpus(30, 40, 50000, 5, 3, 1)
        val sh = (id: Long) => { val w = cp.text(1L, id).split(" ")
          w.indices.dropRight(1).map(i => w(i) + " " + w(i + 1)).toSet }
        val j = (sh(0) & sh(1)).size.toDouble / (sh(0) | sh(1)).size
        if (j < 0.85) throw new AssertionError(s"planted pair jaccard $j")
        val vs = Gen.Vectors(200, 4, 5, 3, 0.6, 0.02)
        eq(vs.plantedOf(4 + 5 + 3), Some(5L), "neighbour of the second query:")
      }
    } finally {
      spark.stop()
      Files.delete(root)
    }
    failures
  }
}
