package graft

import graft.sources.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based fuzz of the composed versioned-lake protocol: a seeded
  * random sequence of publish-full / publish-delta / merge / drop-mode
  * merge / compact / rollback / vacuum ops runs against both the real
  * lake and an in-memory model (per-version content, physical-owner
  * maps, pointer, high-water, on-disk set). After EVERY op the suite
  * checks: the current read, a pinned read of a random readable
  * version, and the change feed over a random readable range all equal
  * the model; every on-disk generation's `history` row carries the
  * model's inherited-dir count and own row count; every vacuum's
  * decision ledger equals the model's protection rule. The per-op
  * specs pin each operator alone; this pins their COMPOSITION —
  * rollback-then-publish numbering, delta chains over merged
  * generations, vacuum under a rolled-back pointer, feeds spanning
  * mixed full/delta/merge steps — where protocol bugs actually live.
  *
  * Readability note: a donor delta retained by vacuum ONLY as a
  * referenced physical holder may legitimately be un-pinnable (its own
  * donors can be pruned — the loud-failure contract pinned in
  * LakeDeltaSpec), so the model tracks readable = "every physical owner
  * on disk" and pins reads/feeds within that set.
  */
class LakeProtocolFuzzSpec extends SparkSuite {
  import spark.implicits._

  private val Parts = Vector("p0", "p1", "p2")
  // a key lives in a fixed partition (the partition-stability contract
  // mergeDelta's default mode requires)
  private def partOf(id: String): String = Parts(math.abs(id.hashCode) % 3)

  type Content = Map[String, String] // id -> text

  private def toDf(c: Content): DataFrame =
    c.toSeq.map { case (id, t) => (id, partOf(id), t) }
      .toDF("id", "k", "text")

  private def readSet(root: String, v: Option[Long]): Content =
    Lake.readVersion(spark, root, v).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def modelDiff(a: Content, b: Content): Set[(String, String)] = {
    val added = (b.keySet -- a.keySet).map(_ -> "added")
    val removed = (a.keySet -- b.keySet).map(_ -> "removed")
    val changed = (a.keySet & b.keySet)
      .filter(id => a(id) != b(id)).map(_ -> "changed")
    added ++ removed ++ changed
  }

  test("30 random publish/delta/merge/rollback/vacuum ops: current read, " +
      "pinned reads, change feeds, and vacuum ledgers equal the model " +
      "after every op") {
    val rng = new scala.util.Random(20260816L)
    val root = java.nio.file.Files
      .createTempDirectory("graft_lakefuzz").toString + "/lake"
    try {
      var nextKey = 0
      def freshId(): String = { nextKey += 1; s"d-$nextKey" }
      def randText(): String = s"t${rng.nextInt(1000000)}"

      // ---- model state ----
      val contents = scala.collection.mutable.Map.empty[Long, Content]
      val owners = scala.collection.mutable.Map // v -> part -> owner
        .empty[Long, Map[String, Long]]
      var onDisk = Set.empty[Long]
      var high = -1L
      var current = -1L

      // digests flip per publish: mixed digest/no-digest chains must
      // never change any result (the skip is a read-cost optimization)
      def fullPublish(c: Content): Unit = {
        val v = Lake.publishVersion(toDf(c), root, Seq("k"), Seq("id"),
          1000000L, keep = 100, digest = rng.nextBoolean())
        assert(v === high + 1)
        contents(v) = c
        owners(v) = c.keySet.map(partOf).map(_ -> v).toMap
        onDisk += v; high = v; current = v
      }

      // bootstrap: the base every delta/merge path needs
      fullPublish((0 until 30).map(_ => freshId() -> randText()).toMap)

      // merge: random upserts/deletes/inserts. Drop mode quarantines
      // every row of a TOUCHED partition (survivors too) whose text ends
      // in 7 — rows the changelog never named leave the generation
      def mergeOp(drop: Boolean): Unit = {
        val cur = contents(current)
        val ids = cur.keys.toVector
        val ups = (0 until rng.nextInt(5))
          .map(_ => ids(rng.nextInt(ids.size))).distinct
          .map(id => (id, randText(), "upsert"))
        val dels = (0 until rng.nextInt(3))
          .map(_ => ids(rng.nextInt(ids.size))).distinct
          .filterNot(id => ups.exists(_._1 == id))
          .map(id => (id, null: String, "delete"))
        val ins = (0 until rng.nextInt(3))
          .map(_ => (freshId(), randText(), "upsert"))
        val ch = ups ++ dels ++ ins
        if (ch.nonEmpty) {
          val df = ch.map { case (id, t, op) => (id, partOf(id), t, op) }
            .toDF("id", "k", "text", "op")
          val v = Lake.mergeDelta(df, root, Seq("id"), Seq("k"),
            Seq("id"), 1000000L, keep = 100, digest = rng.nextBoolean(),
            expect = if (drop) Seq("no7" -> !col("text").endsWith("7"))
              else Nil,
            onViolation = if (drop) "drop" else "fail")
          assert(v === high + 1)
          val touched = ch.map(t => partOf(t._1)).toSet
          contents(v) = (cur -- dels.map(_._1) ++
            (ups ++ ins).map(t => t._1 -> t._2)).filterNot { case (id, t) =>
              drop && touched(partOf(id)) && t.endsWith("7")
            }
          // a touched partition owns its dir in v — unless the merge
          // emptied it, in which case the dir VANISHES (the replaced
          // discipline) and the owner map must drop it
          val emptied = touched.filter(p =>
            !contents(v).keysIterator.exists(partOf(_) == p))
          owners(v) =
            owners(current) ++ touched.map(_ -> v) -- emptied
          onDisk += v; high = v; current = v
        }
      }

      val ran = scala.collection.mutable.Set.empty[Int]
      for (step <- 1 to 30) {
        val op = rng.nextInt(8)
        ran += op
        op match {
          case 0 => // full publish: mutate ~1/3 of keys, add a few
            val cur = contents(current)
            val next = cur.map { case (id, t) =>
              id -> (if (rng.nextInt(3) == 0) randText() else t)
            } ++ (0 until rng.nextInt(4)).map(_ => freshId() -> randText())
            fullPublish(next)

          case 1 | 2 => // delta: rewrite one partition's keys (+ maybe new)
            val part = Parts(rng.nextInt(3))
            val cur = contents(current)
            val mine = cur.filter { case (id, _) => partOf(id) == part }
            val rewritten = mine.map { case (id, t) =>
              id -> (if (rng.nextInt(2) == 0) randText() else t)
            } ++ (0 until rng.nextInt(3)).map(_ => freshId() -> randText())
              .filter { case (id, _) => partOf(id) == part }
            if (rewritten.nonEmpty) {
              val v = Lake.publishDelta(toDf(rewritten), root, Seq("k"),
                Seq("id"), 1000000L, keep = 100, digest = rng.nextBoolean())
              assert(v === high + 1)
              contents(v) = (cur -- mine.keySet) ++ rewritten
              owners(v) = owners(current) + (part -> v)
              onDisk += v; high = v; current = v
            }

          case 3 => mergeOp(drop = false)

          case 4 => // rollback to a random on-disk version
            val target = onDisk.toVector(rng.nextInt(onDisk.size))
            Lake.rollbackTo(spark, root, target)
            current = target

          case 5 => // vacuum with a random keep, model the protection rule
            val keep = 1 + rng.nextInt(4)
            val horizon = onDisk.filter(v => v > high - keep)
            val protect0 = horizon + current
            val referenced = protect0.flatMap(v =>
              owners(v).values.toSet - v)
            val protected_ = protect0 ++ referenced
            val rep = Lake.vacuum(spark, root, keep)
              .select("v", "action").collect()
              .map(r => r.getLong(0) -> r.getString(1)).toMap
            assert(rep.keySet === onDisk,
              s"step $step: vacuum ledger covers ${rep.keySet}, " +
                s"model expects $onDisk")
            for (v <- onDisk)
              assert(rep(v) ===
                (if (protected_(v)) "retained" else "pruned"),
                s"step $step: vacuum(keep=$keep) disagreed on v=$v " +
                  s"(cur=$current high=$high protected=$protected_)")
            onDisk = protected_

          case 6 => // compact the current generation in place: files
            // rewritten, content and partition owners unchanged
            Lake.guarded(spark, root) {
              Lake.compact(spark, s"$root/v=$current", Seq("k"), Seq("id"),
                targetBytes = 256L).collect()
            }: Unit

          case 7 => mergeOp(drop = true)
        }

        // ---- invariants after every op ----
        // readable = every physical owner on disk (a donor delta kept
        // only as a referenced holder may be un-pinnable by contract)
        def readable(v: Long): Boolean =
          onDisk(v) && owners(v).values.forall(onDisk)
        assert(readSet(root, None) === contents(current),
          s"step $step: current read != model (cur=$current)")
        val readables = onDisk.filter(readable).toVector.sorted
        val pin = readables(rng.nextInt(readables.size))
        assert(readSet(root, Some(pin)) === contents(pin),
          s"step $step: pinned read of v=$pin != model")
        // the change feed over a random range whose every version is
        // on disk and readable equals the model's per-step diffs
        val ranges = for {
          from <- readables; to <- readables
          if from < to && (from to to).forall(v =>
            onDisk(v) && readable(v))
        } yield (from, to)
        if (ranges.nonEmpty) {
          val (from, to) = ranges(rng.nextInt(ranges.size))
          val feed = Lake.changesBetween(spark, root, from, to, "id", "text")
            .select("v", "id", "change").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
          val want = ((from + 1) to to).flatMap(v =>
            modelDiff(contents(v - 1), contents(v))
              .map { case (id, c) => (v, id, c) }).toSet
          assert(feed === want,
            s"step $step: feed $from..$to != model")
        }
        // every retained consecutive step — key-scoped into a merge of
        // its predecessor, unscoped otherwise — equals the full diff of
        // its two generations, hashes included
        def feedRows(df: DataFrame): Seq[String] =
          df.select("v", "id", "change", "old_hash", "new_hash").collect()
            .map(_.toString).toSeq.sorted
        for (v <- readables if readable(v - 1))
          assert(feedRows(Lake.changesBetween(spark, root, v - 1, v, "id",
              "text")) === feedRows(Lake.diffVersions(spark, root, v - 1, v,
              "id", "text").withColumn("v", lit(v))),
            s"step $step: feed step ${v - 1} -> $v != diffVersions")
        // every on-disk generation's recorded metadata equals the model:
        // `_REFS` (n_refs = partitions another generation owns) and
        // `_SIZE` (n_rows = rows of the partitions it owns itself), for
        // full, delta, merge and drop-mode merge generations and after
        // compact's ledger refresh
        val hist = Lake.history(spark, root)
          .select("v", "n_refs", "n_rows").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(hist.keySet === onDisk,
          s"step $step: history covers ${hist.keySet}, model expects $onDisk")
        for (v <- onDisk) {
          val own = owners(v)
          val want = (own.count(_._2 != v).toLong,
            contents(v).keysIterator
              .count(id => own.get(partOf(id)).contains(v)).toLong)
          assert(hist(v) === want,
            s"step $step: history (n_refs, n_rows) of v=$v != model")
        }
      }
      assert(ran === (0 until 8).toSet, "the seed must exercise every op")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }
}
