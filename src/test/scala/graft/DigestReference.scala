package graft

import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The read-back reference a generation's in-write `_DIGEST` is checked
  * against: every dir the generation resolves (its own leaf dirs plus
  * the dirs its `_REFS` inherits) is read back from its files on its
  * own — so no partition value enters the read — hashed with the lake's
  * row hash ([[Lake.digestHash]]) and keyed by the dir's rel path.
  * Returns the `_DIGEST` body this recompute implies: the URL-encoded
  * fingerprint line, then `n \t x \t rel` per dir, sorted by rel.
  */
object DigestReference {
  def body(spark: SparkSession, root: String, v: Long): String = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val gen = new Path(root, s"v=$v")
    val own = GenSwap.leaves(fs, gen).collect { case (rel, true) => rel -> v }
    val refsFile = new Path(gen, "_REFS")
    val refs =
      if (!fs.exists(refsFile)) Nil
      else {
        val in = fs.open(refsFile)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.linesIterator.filter(_.nonEmpty).map { l =>
          val i = l.lastIndexOf('\t')
          l.substring(0, i) -> l.substring(i + 1).toLong
        }.toSeq
      }
    val entries = (own ++ refs).sortBy(_._1).map { case (rel, o) =>
      val df = spark.read.parquet(
        new Path(new Path(root, s"v=$o"), rel).toString)
      val (fp, h) = Lake.digestHash(df.schema, Set.empty)
      val r = df.select(count(lit(1)), bit_xor(h)).head()
      (fp, s"${r.getLong(0)}\t${r.getLong(1)}\t" +
        java.net.URLEncoder.encode(rel, "UTF-8"))
    }
    val fps = entries.map(_._1).distinct
    require(fps.size == 1, s"v=$v: dirs disagree on the fingerprint: $fps")
    (java.net.URLEncoder.encode(fps.head, "UTF-8") +: entries.map(_._2))
      .mkString("\n")
  }
}
