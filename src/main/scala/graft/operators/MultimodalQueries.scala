package graft.operators

import graft.{Materialize, QueryRegistry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column family wired to the driver gate (X5). The decode stub
  * itself is exercised in ScalaTest (no SQL surface); these queries verify
  * the binary-column plumbing that IS oracle-checkable.
  */
object MultimodalQueries extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X5: binary payload + typed metadata — sizes, content hash, and the
    // dimensions PARSED from the payload's container header (PNG IHDR /
    // JPEG SOF0 / WebP VP8X) by the codegen'd MediaDims expression. The
    // oracle states the dimensions the synthesis encoded and rebuilds the
    // exact header bytes independently, so a hash match proves the parse
    // inverted the encoding — metadata from bytes, not doc_id arithmetic
    // (r17 verdict #3). md5 is over the uppercase hex of the payload
    // (both engines agree on hex; the oracle's md5 is VARCHAR-only).
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.mediaTable(s, dir).select(
        col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        md5(hex(col("media"))).as("content_md5"),
        col("meta.format").as("format"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))),
    // X5: file-per-item media INGESTION roundtrip — payloads staged as
    // one .bin file each (how media actually lands), read back through
    // the binaryFile source; id from the file name, bytes + md5 from the
    // content. The oracle computes the same from the source column, so
    // the hash proves the write→binaryFile→table path loses nothing.
    // Gate-local staging dir (local master); a deployment reads the
    // object-store landing prefix directly.
    "mm_binary_ingest" -> ((s, dir) =>
      Materialize.scratch("graft_media") { tmp =>
        Multimodal.writeMediaFiles(
          Multimodal.mediaTable(s, dir).filter(col("doc_id") % 41 === 0), tmp)
        Multimodal.ingestMediaFiles(s, tmp)
      }),
    // X5/X4/X3 fusion: cross-modal curation scorecard — text-side signals
    // (token/stopword quality) joined with embedding-side signals
    // (coordinate concentration of the unit vector) into one per-item keep
    // decision. The modality join is a plain equi join on the item id: at
    // 100 TB both sides are bucketed by id and co-partition.
    "mm_curation_score" -> ((s, dir) => {
      val t = TextDedup.tokens(col("text"))
      val txt = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          size(t).cast("long").as("n_tokens"),
          size(filter(t, x => x.isin("the", "a"))).cast("long").as("n_stop"))
      val v = col("embedding").cast("array<double>")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("label"),
          array_max(transform(v, x => abs(x))).as("max_abs"),
          (aggregate(v, lit(0.0), (a, x) => a + abs(x)) / size(v)).as("mean_abs"))
      val quality = least(lit(1.0), col("n_tokens") / lit(150.0)) *
        (lit(1.0) - col("n_stop").cast("double") / col("n_tokens"))
      txt.join(emb, "doc_id")
        .select(col("doc_id"), col("lang"), col("label"), col("n_tokens"),
          // quality is a rational product → floorAt (see Quant); the
          // emb magnitudes are float-derived (huge denominators) → round
          Quant.floorAt(quality, 6).as("quality_score"),
          round(col("max_abs"), 6).as("emb_max_abs"),
          round(col("mean_abs"), 6).as("emb_mean_abs"),
          (quality > 0.3 && col("max_abs") < 0.5).as("keep"))
    }),
    // X5: frame sampling — one media row explodes into byte-window
    // "frames" (64-byte frames, stride 48); per-format frame counts and
    // byte volume. The oracle derives the same counts from octet lengths
    // alone, pinning the explode cardinality and grouping; frame CONTENT
    // is exercised in MultimodalSpec (no engine-portable SQL for blob
    // slicing).
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(s, dir), 64, 48)
        .groupBy("format")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame")).cast("long")).as("frame_bytes"),
          countDistinct(col("doc_id")).as("n_docs"))),
    // X5: WebDataset-style shard manifest — media items packed into
    // 64 KiB byte-budget shards in id order via the distributed prefix
    // sum (Packing.shardManifest); the oracle recomputes it with the
    // single-window form, so the hash match pins the two-phase split.
    "mm_shard_manifest" -> ((s, dir) =>
      Packing.shardManifest(
        Multimodal.mediaTable(s, dir)
          .select(col("doc_id"),
            length(col("media")).cast("long").as("nbytes")),
        shardBytes = 65536L)),
    // X5: per-format aggregate over media metadata
    "mm_format_stats" -> ((s, dir) =>
      Multimodal.mediaTable(s, dir)
        .select(col("meta.format").as("format"),
          length(col("media")).cast("long").as("n_bytes"),
          (col("meta.width") * col("meta.height")).cast("long").as("pixels"))
        .groupBy("format")
        .agg(count(lit(1)).as("n"),
          sum("n_bytes").as("total_bytes"),
          Quant.floorAt(avg("pixels"), 6) // int mean: see Quant
            .as("avg_pixels"))))

  /** Rebuilds the exact media payload (container header ++ text bytes)
    * independently of the Spark side: the synthesis formula states which
    * dimensions were encoded, the header bytes are reassembled from them
    * (printf hex + unhex, byte-swapped for the little-endian WebP
    * fields), and the hash compare then proves the Spark side PARSED
    * those dimensions back out of the bytes. */
  // NOTE: no line of this (or any embedding) SQL may BEGIN with "||" —
  // stripMargin eats the first pipe, and queries that interpolate this
  // text inside their own stripMargin block would eat a second one.
  private val mediaSql =
    """SELECT doc_id, format, width, height,
      | (CASE format
      |   WHEN 'png' THEN unhex('89504E470D0A1A0A0000000D49484452' ||
      |     printf('%08x', width) || printf('%08x', height) ||
      |     '080600000000000000')
      |   WHEN 'jpeg' THEN unhex(
      |     'FFD8FFE000104A46494600010100000100010000FFC0001108' ||
      |     printf('%04x', height) || printf('%04x', width) ||
      |     '03012200021101031101')
      |   ELSE unhex('52494646' ||
      |     substr(printf('%08x', octet_length(encode(text)) + 22), 7, 2) ||
      |     substr(printf('%08x', octet_length(encode(text)) + 22), 5, 2) ||
      |     substr(printf('%08x', octet_length(encode(text)) + 22), 3, 2) ||
      |     substr(printf('%08x', octet_length(encode(text)) + 22), 1, 2) ||
      |     '57454250565038580A00000000000000' ||
      |     substr(printf('%06x', width - 1), 5, 2) ||
      |     substr(printf('%06x', width - 1), 3, 2) ||
      |     substr(printf('%06x', width - 1), 1, 2) ||
      |     substr(printf('%06x', height - 1), 5, 2) ||
      |     substr(printf('%06x', height - 1), 3, 2) ||
      |     substr(printf('%06x', height - 1), 1, 2)
      |  ) END) || encode(text) AS media
      |FROM (SELECT doc_id, text,
      |  CASE WHEN doc_id % 3 = 0 THEN 'jpeg'
      |       WHEN doc_id % 3 = 1 THEN 'png' ELSE 'webp' END AS format,
      |  CAST(64 + (doc_id % 8) * 32 AS INT) AS width,
      |  CAST(64 + (doc_id % 5) * 48 AS INT) AS height
      | FROM documents)""".stripMargin

  private val metaSql =
    s"""SELECT doc_id,
       | CAST(octet_length(media) AS BIGINT) AS n_bytes,
       | md5(hex(media)) AS content_md5,
       | format, width, height
       |FROM ($mediaSql)""".stripMargin

  def oracles: Map[String, String] = Map(
    "mm_curation_score" ->
      """WITH txt AS (SELECT doc_id, lang, len(t) AS n_tokens,
        |  len(list_filter(t, x -> x IN ('the','a'))) AS n_stop
        | FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)),
        |emb AS (SELECT vec_id AS doc_id, label,
        |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS max_abs,
        |  list_sum(list_transform(embedding::DOUBLE[], x -> abs(x)))
        |    / len(embedding) AS mean_abs
        | FROM embeddings),
        |j AS (SELECT txt.doc_id, lang, label, n_tokens, max_abs, mean_abs,
        |  least(1.0, n_tokens / 150.0) * (1.0 - n_stop * 1.0 / n_tokens)
        |    AS quality
        | FROM txt JOIN emb ON txt.doc_id = emb.doc_id)
        |SELECT doc_id, lang, label, CAST(n_tokens AS BIGINT) AS n_tokens,
        | floor(quality * 1000000) / 1000000.0 AS quality_score,
        | round(max_abs, 6) AS emb_max_abs,
        | round(mean_abs, 6) AS emb_mean_abs,
        | (quality > 0.3 AND max_abs < 0.5) AS keep
        |FROM j""".stripMargin,
    "mm_binary_meta" -> metaSql,
    // the staged-file roundtrip must reproduce the source column exactly
    "mm_binary_ingest" ->
      s"""SELECT doc_id,
         | CAST(octet_length(media) AS BIGINT) AS n_bytes,
         | md5(hex(media)) AS content_md5
         |FROM ($mediaSql) WHERE doc_id % 41 = 0""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH m AS (SELECT doc_id, format, n_bytes AS len FROM ($metaSql)),
         |f AS (SELECT doc_id, format,
         |  CASE WHEN len >= 64 THEN (len - 64) // 48 + 1 ELSE 0 END AS nf
         | FROM m)
         |SELECT format, CAST(sum(nf) AS BIGINT) AS n_frames,
         | CAST(sum(nf * 64) AS BIGINT) AS frame_bytes,
         | count(*) AS n_docs
         |FROM f WHERE nf > 0 GROUP BY 1""".stripMargin,
    "mm_shard_manifest" ->
      s"""WITH it AS (SELECT doc_id,
         |  CAST(octet_length(media) AS BIGINT) AS n FROM ($mediaSql)),
        |c AS (SELECT doc_id, n,
        |  coalesce(sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        | FROM it)
        |SELECT CAST(start // 65536 AS BIGINT) AS shard_id, count(*) AS n_items,
        | CAST(sum(n) AS BIGINT) AS n_bytes,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1""".stripMargin,
    "mm_format_stats" ->
      s"""SELECT format, count(*) AS n,
         | CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         | floor(avg(width * height) * 1000000) / 1000000.0 AS avg_pixels
         |FROM ($metaSql) GROUP BY 1""".stripMargin)
}
