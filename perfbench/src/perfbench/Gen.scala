package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generated value is a pure function of
  * (seed, stream, index), so the Spark job that writes an input and the
  * driver-side reference that checks the program's output derive the same
  * rows without reading each other's files.
  */
object Gen {

  /** SplitMix64 finaliser. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, stream: Int, i: Long): Long =
    mix64(mix64(seed * 0x100000001B3L + stream) ^ i)

  /** Uniform in [0, 1). */
  def uniform(seed: Long, stream: Int, i: Long): Double =
    (bits(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal (Box-Muller over two independent uniforms). */
  def gauss(seed: Long, stream: Int, i: Long): Double = {
    val u1 = math.max(uniform(seed, stream, 2 * i), 1e-300)
    val u2 = uniform(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Rank in [0, n) from a bounded continuous Zipf(s) inverse CDF: rank 0
    * is the hottest. With s = 0.7 over 10^5 keys the hottest key carries
    * about 0.8% of draws.
    */
  def zipfRank(u: Double, n: Int, s: Double): Int = {
    val a = 1.0 - s
    val r = math.pow(1.0 + u * (math.pow(n + 1.0, a) - 1.0), 1.0 / a).toLong - 1
    math.max(0L, math.min(n - 1L, r)).toInt
  }

  /** Scatter a rank over [0, n) so hot keys are not the smallest ids
    * (1000003 is prime and larger than any n used here, so the map is a
    * permutation).
    */
  def scatter(rank: Int, n: Int): Long = rank.toLong * 1000003L % n

  // ---------------------------------------------------------------- changes

  /** A seeded CDC change stream: `n` changes over `nKeys` Zipf-skewed keys
    * with an insert/delete/update mix, event times spread evenly over
    * `spanSec` seconds from `t0Sec`.
    */
  final case class Changes(n: Long, nKeys: Int, zipfS: Double,
      pInsert: Double, pDelete: Double, t0Sec: Long, spanSec: Long) {
    def key(seed: Long, i: Long): Long =
      scatter(zipfRank(uniform(seed, 1, i), nKeys, zipfS), nKeys)
    def action(seed: Long, i: Long): String = {
      val u = uniform(seed, 2, i)
      if (u < pInsert) "insert" else if (u < pInsert + pDelete) "delete"
      else "update"
    }
    def tsMicros(i: Long): Long =
      t0Sec * 1000000L + i * (spanSec * 1000000L / math.max(n, 1L))
    def cdcTs(i: Long): Long = Math.floorDiv(tsMicros(i), 1000000L)
    def value(seed: Long, i: Long): Double =
      math.floor(uniform(seed, 3, i) * 1e7) / 100.0
    def props(seed: Long, i: Long): String =
      s"""{"src":"gen","n":${bits(seed, 4, i) & 0xff}}"""
  }

  /** Binlog event type for a change action (the inverse of
    * `CdcBatch.changeLog`'s mapping; updates rotate over three types).
    */
  private val UpdateTypes = Vector("click", "view", "purchase")

  def eventType(action: String, i: Long): String = action match {
    case "insert" => "signup"
    case "delete" => "error"
    case _ => UpdateTypes((i % 3).toInt)
  }

  final case class EventRow(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  def event(c: Changes, seed: Long, i: Long): EventRow = {
    val a = c.action(seed, i)
    EventRow(i + 1, c.tsMicros(i), c.key(seed, i), eventType(a, i),
      c.value(seed, i), c.props(seed, i))
  }

  /** `events.parquet` in the fixture schema (event_id, ts timestamp[us],
    * user_id, event_type, value, props).
    */
  def writeEvents(spark: SparkSession, c: Changes, seed: Long,
      sfDir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, c.n, 1L, parts).as[Long]
      .map(i => event(c, seed, i))
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$sfDir/events.parquet")
  }

  /** Change row `i` in the shape of `CdcStream.Ch`. */
  def ch(c: Changes, seed: Long, i: Long): graft.streaming.CdcStream.Ch =
    graft.streaming.CdcStream.Ch("db_test.events", c.key(seed, i).toString,
      c.action(seed, i), c.cdcTs(i), i + 1, c.value(seed, i), c.props(seed, i))

  /** `files` parquet files of `rowsPerFile` Ch rows each, starting at
    * change `from`, one file per `f=<i>` directory under `stagingDir`,
    * written by one Spark job.
    */
  def writeChFiles(spark: SparkSession, c: Changes, seed: Long, from: Long,
      rowsPerFile: Int, files: Int, stagingDir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.range(from, from + rowsPerFile.toLong * files, 1L, parts).as[Long]
      .map(i => ch(c, seed, i))
      .withColumn("f", (col("seq") - 1 - from) / rowsPerFile cast "int")
      .repartition(parts, col("f"))
      .write.mode("overwrite").partitionBy("f").parquet(stagingDir)
  }

  // ------------------------------------------------------------------- lake

  /** A keyed table of `nBase` rows partitioned by a key-derived column of
    * `parts` values, and `gens` CDC deltas of `deltaRows` changes each.
    * A delta change inserts a fresh key (share `pNew`), deletes a
    * Zipf-chosen base key (share `pDelete`) or updates one.
    */
  final case class LakeSpec(nBase: Int, parts: Int, gens: Int,
      deltaRows: Int, pNew: Double, pDelete: Double, zipfS: Double) {
    def part(seed: Long, id: Long): Int =
      (java.lang.Long.remainderUnsigned(bits(seed, 10, id), parts.toLong)).toInt
    /** Row content; `rev` is 0 for the base row and the change index + 1
      * for an after-image written by a delta.
      */
    def text(seed: Long, id: Long, rev: Long): String = {
      val h = bits(seed, 11, id * 1000003L + rev)
      f"id$id%d rev$rev%d ${h}%016x ${mix64(h)}%016x ${mix64(h + 1)}%016x"
    }
    /** Global change index of delta `g` (1-based) row `j`. */
    def change(g: Int, j: Int): Long = (g - 1).toLong * deltaRows + j
    def changeKey(seed: Long, c: Long): Long =
      if (changeAction(seed, c) == "insert") nBase + c
      else scatter(zipfRank(uniform(seed, 12, c), nBase, zipfS), nBase)
    def changeAction(seed: Long, c: Long): String = {
      val u = uniform(seed, 13, c)
      if (u < pNew) "insert" else if (u < pNew + pDelete) "delete"
      else "update"
    }
  }

  final case class LakeRow(id: Long, part: Int, body: String, n: Long)
  final case class LakeChange(id: Long, part: Int, body: String, n: Long,
      op: String, seq: Long, g: Int)

  def lakeBase(spark: SparkSession, l: LakeSpec, seed: Long,
      parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, l.nBase.toLong, 1L, parts).as[Long]
      .map(id => LakeRow(id, l.part(seed, id), l.text(seed, id, 0L), 0L))
      .toDF()
  }

  def lakeChange(l: LakeSpec, seed: Long, c: Long): LakeChange = {
    val id = l.changeKey(seed, c)
    val a = l.changeAction(seed, c)
    LakeChange(id, l.part(seed, id),
      if (a == "delete") null else l.text(seed, id, c + 1), c + 1,
      if (a == "delete") "delete" else "upsert", c + 1,
      (c / l.deltaRows).toInt + 1)
  }

  /** All deltas in one job, as `g=<i>` directories under `dir`. */
  def writeLakeDeltas(spark: SparkSession, l: LakeSpec, seed: Long,
      dir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, l.gens.toLong * l.deltaRows, 1L, parts).as[Long]
      .map(c => lakeChange(l, seed, c))
      .repartition(parts, col("g"))
      .write.mode("overwrite").partitionBy("g").parquet(dir)
  }

  // ----------------------------------------------------------------- corpus

  /** Documents with planted near-duplicate clusters: ids below
    * `clusters * clusterSize` form clusters of `clusterSize` members, each
    * member its cluster's base text with `edits` words replaced. Every
    * other document draws its words independently.
    */
  final case class Corpus(docs: Int, words: Int, vocab: Int, clusters: Int,
      clusterSize: Int, edits: Int) {
    def planted: Int = clusters * clusterSize
    def cluster(id: Long): Option[Int] =
      if (id < planted) Some((id / clusterSize).toInt) else None
    def text(seed: Long, id: Long): String = {
      val base = cluster(id) match {
        case Some(c) => -1L - c // base words shared by the cluster
        case None => id
      }
      val w = Array.tabulate(words)(j =>
        (bits(seed, 20, base * 4096 + j) % vocab + vocab) % vocab)
      if (cluster(id).isDefined && id % clusterSize != 0)
        for (e <- 0 until edits) {
          val pos = ((bits(seed, 21, id * 64 + e) >>> 1) % words).toInt
          w(pos) = vocab + ((bits(seed, 22, id * 64 + e) >>> 1) % vocab)
        }
      w.map(x => s"w$x").mkString(" ")
    }
    /** Planted pairs (a < b) — every two members of one cluster. */
    def plantedPairs: Set[(Long, Long)] =
      (0 until clusters).flatMap { c =>
        val ms = (0 until clusterSize).map(r => c.toLong * clusterSize + r)
        for (a <- ms; b <- ms if a < b) yield (a, b)
      }.toSet
  }

  final case class Doc(doc_id: Long, text: String)

  def writeDocs(spark: SparkSession, cp: Corpus, seed: Long, path: String,
      parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, cp.docs.toLong, 1L, parts).as[Long]
      .map(id => Doc(id, cp.text(seed, id))).write.mode("overwrite")
      .parquet(path)
  }

  /** 64-dim embeddings in `cells` well-separated clusters. Ids
    * `0 until cells` hold one vector per cluster (the k-means seed rows);
    * ids `cells until cells + queries` are query vectors; each query has
    * `k` planted neighbours right after them; the rest is background.
    */
  final case class Vectors(n: Int, cells: Int, queries: Int, k: Int,
      noise: Double, plantNoise: Double) {
    val dim = 64
    def firstQuery: Long = cells.toLong
    def isQuery(id: Long): Boolean = id >= cells && id < cells + queries
    def plantedOf(id: Long): Option[Long] = {
      val o = id - cells - queries
      if (o >= 0 && o < queries.toLong * k) Some(cells + o / k) else None
    }
    def cellOf(seed: Long, id: Long): Int =
      if (id < cells) id.toInt
      else plantedOf(id) match {
        case Some(q) => cellOf(seed, q)
        case None =>
          (java.lang.Long.remainderUnsigned(bits(seed, 30, id), cells.toLong))
            .toInt
      }
    private def center(seed: Long, c: Int): Array[Double] =
      Array.tabulate(dim)(j => gauss(seed, 31, c.toLong * dim + j))
    def vector(seed: Long, id: Long): Array[Float] = {
      val v: Array[Double] = plantedOf(id) match {
        case Some(q) =>
          val b = vector(seed, q)
          Array.tabulate(dim)(j =>
            b(j) + plantNoise * gauss(seed, 32, id * dim + j))
        case None =>
          val c = center(seed, cellOf(seed, id))
          Array.tabulate(dim)(j =>
            c(j) + noise * gauss(seed, 33, id * dim + j))
      }
      v.map(_.toFloat)
    }
  }

  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  def writeVectors(spark: SparkSession, vs: Vectors, seed: Long, path: String,
      parts: Int): Unit = {
    import spark.implicits._
    spark.range(0L, vs.n.toLong, 1L, parts).as[Long]
      .map(id => Emb(id, vs.vector(seed, id), vs.cellOf(seed, id)))
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------------- hash

  /** Order-independent content hash of a table: row count and the XOR of
    * per-row xxhash64 over every column.
    */
  def tableHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), lit(0L)))
      .head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x"
  }

  /** One short hash over several table hashes. */
  def combine(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
