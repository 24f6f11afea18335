package graft.streaming

import graft.Materialize
import graft.Materialize.Ops
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming embedding near-duplicate detection — the embedding analog of
  * [[StreamDedup]], composing [[Similarity.nearDupPairs]]'s batch shape
  * over a continuous ingest: vectors arrive in micro-batches, each is
  * assigned to its IVF cell against a FIXED offline-trained quantizer
  * (the [[Similarity.kmeansCentroids]] artifact — training stays a batch
  * job, exactly as the LSH stream inherits the batch index), and the cell
  * occupancy index lives in Structured Streaming keyed state
  * (`flatMapGroupsWithState` per cell).
  *
  * A new vector emits one candidate per prior occupant of its cell —
  * O(new × occupancy) per batch, never a rescan — and the exact-cosine
  * verify joins candidates back to the embedding store per micro-batch
  * (stream-static, [[verifyPairs]]): keyed state holds only cell → ids,
  * never vectors, so state is 8 bytes per ingested embedding regardless
  * of dimension.
  *
  * 100 TB / continuous-ingest design mirrors StreamDedup knob for knob:
  * `maxCell` caps a degenerate cell's fan-out at O(cap²) with drops
  * counted into the caller's accumulator; `idleTtlMs` evicts idle cells
  * (post-eviction arrivals pair only forward — bounded recall loss, or
  * re-seed from the lake via a batch [[Similarity.nearDupPairs]] over the
  * compaction window); the shared [[BucketState.pairArrivals]] step keeps
  * the cap/TTL/emit semantics identical to the text stream's.
  *
  * Assignment arithmetic: a per-row fold over the cid-sorted packed
  * centroids keeping the strictly-greater cosine — identical winners and
  * lowest-cid tie-break to the batch [[Similarity.assignCells]] heap
  * (`StreamSimSpec` pins fold ≡ batch on the fixture; see [[cellRows]]).
  * The fold needs no pre-shuffle: the only exchange in the stream is the
  * groupByKey on cell id, matching StreamDedup's latency-bound shape.
  */
object StreamSim {

  case class EmbIn(vec_id: Long, embedding: Seq[Double])
  case class CellRow(cid: Long, vec_id: Long)
  case class CandPair(va: Long, vb: Long)

  /** Per-row IVF cell assignment against an explicit (cid, cv) centroid
    * table — the streaming form of the batch [[Similarity.assignCells]]
    * with the same `probes` and `flatBelow`: each arrival lands in its
    * top-`probes` cells' keyed state (one row in, up to `probes`
    * (cid, vec_id) rows out). No shuffle, no aggregate, no per-row join:
    * one broadcast row and one fold per row. Multi-probe is the batch
    * form's recall knob — boundary-split pairs are recovered because
    * both members share at least one probed cell; a pair sharing BOTH
    * cells is emitted twice by the cell states and collapses in the
    * verify stage's distinct.
    *
    * Below `flatBelow` centroids (the C = 16 gate geometry) the fold is
    * the codegen'd [[org.apache.spark.sql.graft.Top2Cells]] loop over the
    * packed cid-sorted table: CosineSim's exact IEEE loop, strictly
    * greater keeps the lower cid on ties — the batch heap's (msim desc,
    * cid asc). A vector with no finite cosine (a zero vector) scores
    * NaN against every cell, never beats the -∞ start, and yields no row.
    *
    * From `flatBelow` on (the production C ∝ n geometry, where the flat
    * O(batch·C) fold would re-introduce per arrival the quadratic the
    * batch path killed) the fold is two-hop, O(√C + 2·occupancy) per
    * row: a top-2 over the ~√C super-centroids (the batch hop 1's
    * two-super probe), then a top-2 over only those supers' member
    * centroids. Parity with the batch two-hop is structural: the super
    * geometry is the SAME [[Similarity.trainSupers]] artifact, supers are
    * scid-sorted so hop 1 tie-breaks like the batch TopK's (ssim desc,
    * scid asc), hop 2 carries an explicit lowest-cid tie clause (its two
    * member lists are each cid-sorted, not their concatenation), and only
    * member-having supers are packed (the batch's memberless-super
    * pruning). `StreamSimSpec` pins row-for-row equality with
    * [[Similarity.assignCells]] in both geometries and at both probe
    * counts.
    */
  def cellRows(emb: DataFrame, cent: DataFrame, probes: Int = 1,
      flatBelow: Int = 128): Dataset[CellRow] = {
    require(probes == 1 || probes == 2,
      s"cellRows: probes must be 1 or 2, got $probes")
    import emb.sparkSession.implicits._
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (packed, top2) = Similarity.hierCells(cent, flatBelow) match {
      case None => (packedFlat(cent),
        org.apache.spark.sql.graft.VectorFunctions.top2Cells(
          col("v"), col("cids"), col("flat")))
      case Some(centRows) => (packedSupers(cent, centRows), hierTop2)
    }
    v.crossJoin(broadcast(packed))
      .select(explode(slice(top2, 1, probes)).as("cid"), col("vec_id"))
      .as[CellRow]
  }

  /** The broadcast row of the flat fold: cid-sorted centroid ids + their
    * vectors flattened into one doubles array (the NearestCode packing
    * shape — ids and offsets align because both derive from the SAME
    * sorted array).
    */
  private def packedFlat(cent: DataFrame): DataFrame =
    cent.agg(
      array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))
      .select(
        expr("transform(cents, c -> CAST(c.cid AS BIGINT))").as("cids"),
        flatten(expr("transform(cents, c -> c.cv)")).as("flat"))

  /** The two-hop fold over [[packedSupers]]' `supers`: the top-2 member
    * cids of the row's two probed supers, in rank order. The hop-1
    * result is wrapped in a one-element array and transformed over, so
    * the √C fold evaluates once per row, not once per reference (the
    * inline-HOF re-eval hazard). With a single live super both probes
    * point at index 0; its members then enter once, since a duplicated
    * argmax would displace the true second cell, so the two cids always
    * differ. The finish lambda keeps the cids scored above -∞ — NaN
    * counts as above here, as in the batch heap's ordering.
    */
  private def hierTop2: org.apache.spark.sql.Column = {
    val supers = col("supers")
    val negInf = lit(Double.NegativeInfinity)
    val none = struct(negInf.as("sim"), lit(Long.MaxValue).as("cid"))
    val cids = transform(array(superTop2(supers)), t => {
      val b1 = t("b1")("idx"); val b2 = t("b2")("idx")
      aggregate(
        concat(element_at(supers, b1 + 1)("members"),
          filter(element_at(supers, b2 + 1)("members"), _ => b2 =!= b1)),
        struct(none.as("b1"), none.as("b2")),
        (acc, m) => {
          val sm = Similarity.cosine(col("v"), m("cv"))
          def beats(b: org.apache.spark.sql.Column) =
            sm > b("sim") || (sm === b("sim") && m("cid") < b("cid"))
          val cand = struct(sm.as("sim"), m("cid").cast("long").as("cid"))
          when(beats(acc("b1")), struct(cand.as("b1"), acc("b1").as("b2")))
            .otherwise(when(beats(acc("b2")),
              struct(acc("b1").as("b1"), cand.as("b2")))
              .otherwise(acc))
        },
        acc => transform(
          filter(array(acc("b1"), acc("b2")), b => b("sim") > negInf),
          b => b("cid")))
    })
    element_at(cids, 1)
  }

  /** The nested (scid, scv, members) broadcast row of the two-hop fold:
    * supers scid-sorted, members cid-sorted, memberless supers excluded
    * (see [[cellRows]]).
    */
  private def packedSupers(cent: DataFrame, centRows: Long): DataFrame = {
    val (superCent, centSuper) = Similarity.trainSupers(cent, centRows)
    cent.join(centSuper, "cid")
      .groupBy("scid")
      .agg(array_sort(collect_list(struct(col("cid"), col("cv"))))
        .as("members"))
      .join(superCent, "scid")
      .select(struct(col("scid"), col("scv"), col("members")).as("sentry"))
      .agg(array_sort(collect_list(col("sentry"))).as("supers"))
  }

  /** Hop-1 running top-2 supers by cosine; the accumulator carries the
    * element INDEX (supers are scid-sorted, so lower index = lower scid
    * = the batch TopK's tie-break) rather than member arrays — copying
    * members through √C fold steps would cost O(C·d) per row, the flat
    * bill again.
    */
  private def superTop2(supers: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val negInf = lit(Double.NegativeInfinity)
    val zero2 = struct(lit(0).as("i"),
      struct(negInf.as("sim"), lit(0).as("idx")).as("b1"),
      struct(negInf.as("sim"), lit(0).as("idx")).as("b2"))
    aggregate(supers, zero2, (acc, s) => {
      val sm = Similarity.cosine(col("v"), s("scv"))
      val cand = struct(sm.as("sim"), acc("i").as("idx"))
      val next = (acc("i") + 1).as("i")
      when(sm > acc("b1")("sim"),
        struct(next, cand.as("b1"), acc("b1").as("b2")))
        .otherwise(when(sm > acc("b2")("sim"),
          struct(next, acc("b1").as("b1"), cand.as("b2")))
          .otherwise(struct(next, acc("b1").as("b1"), acc("b2").as("b2"))))
    })
  }

  /** Stateful candidate generation: keyed state per cell holds occupant
    * ids; each arriving vector pairs with every prior occupant (and
    * earlier arrivals in the same batch). Pairs are canonical (va < vb);
    * the verify/sink stage dedups, as in the batch shape.
    */
  def candidates(
      cells: Dataset[CellRow],
      maxCell: Int = 4096,
      idleTtlMs: Option[Long] = None,
      droppedVecs: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[CandPair] = {
    import cells.sparkSession.implicits._
    val timeoutConf =
      if (idleTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    cells.groupByKey(_.cid)
      .flatMapGroupsWithState[Array[Long], CandPair](
        OutputMode.Append, timeoutConf) {
        case (_, rows, state: GroupState[Array[Long]]) =>
          BucketState.pairArrivals(rows.map(_.vec_id), state, maxCell,
              idleTtlMs, droppedVecs, "StreamSim")
            .map { case (a, b) => CandPair(a, b) }
      }
  }

  /** Driver-gate form: stream the embedding table through the cell-state
    * operator (parquet file source, AvailableNow), verify survivors
    * against the store, and return the pair set — which must hash-match
    * the BATCH nearDupPairs oracle, putting the streaming state machinery
    * itself under the correctness gate (the sim analog of
    * `cdc_stream_dedup`). The quantizer is trained batch-side first, as
    * the offline artifact it is in production.
    *
    * `workDir` is the run's working root on storage EVERY executor can
    * reach (hdfs://, s3a://, a cluster-mounted path) — resolved through
    * the Hadoop FS API, it holds the staged stream source (`<workDir>/
    * stream`, deleted on completion) and the verified-pairs sink
    * (`<workDir>/pairs`, truncated at start, left in place as the run's
    * durable output; the returned DataFrame scans it lazily). On a real
    * cluster this parameter is REQUIRED: with `workDir = None` both dirs
    * fall back to driver-local temp paths that remote executors cannot
    * see, so the fallback refuses to run on a non-local master. The
    * fallback cleans up after itself — the result is materialized
    * (executor storage, or the checkpoint dir in `reliable` mode) and
    * both temp dirs are deleted before returning, also when the run
    * throws.
    */
  def nearDupStreamed(
      spark0: org.apache.spark.sql.SparkSession, sfDir: String,
      centOpt: Option[DataFrame] = None, probes: Int = 1,
      workDir: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    // the cell-state operator's state is O(ingested ids) — size its
    // shuffle to spark.graft.statePartitions via the scoped session (the
    // CdcStream discipline; r18 measured this gate ANTI-scaling with
    // cores because the stateful stage inherited the batch session's
    // input-parallelism width: more state partitions paying fixed commit
    // cost on tiny per-cell state)
    val spark = CdcStream.stateScopedSession(spark0)
    import spark.implicits._
    require(workDir.isDefined || spark.sparkContext.isLocal,
      "nearDupStreamed: the default workDir stages the stream source and " +
        "pairs sink on the DRIVER's local disk, which executors on a " +
        "non-local master cannot reach — pass workDir on shared storage " +
        "(hdfs://, s3a://, cluster mount)")
    val localTmp = workDir.isEmpty
    val hconf = spark.sparkContext.hadoopConfiguration
    def run(rootDir: String): DataFrame = {
      val root = new Path(rootDir)
      val fs = root.getFileSystem(hconf)
      val path = s"$sfDir/embeddings.parquet"
      val embStatic = spark.read.parquet(path)
      // a caller-supplied centroid frame may be bound to the ORIGINAL
      // session — re-emit its (tiny, trained-artifact-sized) rows on the
      // scoped session so the stream plan never mixes sessions
      val cent = centOpt
        .map(c =>
          if (c.sparkSession eq spark) c
          else spark.createDataFrame(
            java.util.Arrays.asList(c.collect(): _*), c.schema))
        .getOrElse(
          Similarity.kmeansCentroids(embStatic, 16, 2).materialize())
      // the file stream source requires a DIRECTORY; the fixture is a single
      // parquet file — stage a copy of it under the work root (a production
      // lake is a directory already and skips this). Local fallback links
      // instead of copying when the filesystem allows.
      val streamDir = new Path(root, "stream")
      fs.mkdirs(streamDir)
      val srcFile = new Path(path)
      val staged = new Path(streamDir, "part-0.parquet")
      def hadoopCopy(): Unit = {
        org.apache.hadoop.fs.FileUtil.copy(
          srcFile.getFileSystem(hconf), srcFile, fs, staged, false, hconf)
        ()
      }
      if (localTmp) {
        try java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(staged.toUri.getPath),
          java.nio.file.Paths.get(path))
        catch { case _: Exception => hadoopCopy() }
      } else hadoopCopy()
      val src = spark.readStream.schema(embStatic.schema)
        .parquet(streamDir.toString)
      // the two-hop fold kicks in only at production C (≥ flatBelow); the
      // C = 16 gate run keeps the exact flat fold, so the oracle geometry
      // is untouched
      //
      // Verification runs INSIDE foreachBatch (the stream-static join per
      // micro-batch, as the scaladoc above describes) and NOTHING reaches
      // the driver. The r10 shape parked raw candidates in a memory sink
      // and verified once at the end — at 100× scaled-C that is ~78M
      // candidate rows (Σ occupancy²/2 across C cells) collected
      // driver-side, which broke spark.driver.maxResultSize; r11 verified
      // in-batch but still collect()ed the VERIFIED pairs into a driver
      // queue — O(true dups) is fine at fixture scale but at 100 TB the
      // verified set is itself data-sized. Each batch's verified pairs
      // append to the run's pairs dir executor-side (the sink a real
      // pipeline has anyway) and the result is a scan of that dir: the
      // driver holds file paths, never rows, at any corpus dirtiness —
      // PROVIDED the dir is executor-reachable, which is what `workDir`
      // makes true off local[*]. Candidates are emitted exactly once per
      // pair (BucketState.pairArrivals), so per-batch verify ∪ = the
      // end-of-stream verify of the old shape.
      val pairsDir = new Path(root, "pairs").toString
      // seed the sink with the (empty) schema so the final scan works even
      // when the stream verified nothing. mode=overwrite also TRUNCATES a
      // pre-existing pairs dir (a reused workDir) — the seed and the
      // overwrite must stay paired, or stale pairs from a prior run would
      // pollute this one's result.
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "va BIGINT, vb BIGINT, sim DOUBLE"))
        .write.mode("overwrite").parquet(pairsDir)
      val q = candidates(cellRows(src, cent, probes))
        .writeStream
        .outputMode("append")
        .foreachBatch { (b: Dataset[CandPair], _: Long) =>
          verifyPairs(b.toDF(), embStatic, 0.4)
            .write.mode("append").parquet(pairsDir)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // multi-probe can verify a both-cells pair twice within a batch
      // (collapsed by verifyPairs' candidate distinct) — the final
      // distinct guards the cross-batch composition too
      val pairs = spark.read.parquet(pairsDir)
        .select(col("va"), col("vb"), col("sim")).distinct()
      // the staged source copy is scratch; the pairs dir is the run's
      // output and the lazy scan's backing store — keep it
      fs.delete(streamDir, true)
      pairs
    }
    // temp fallback: scratch cuts the pair set loose from the dirs and
    // removes them, also when the run throws — repeated invocations must
    // not leak /tmp dirs holding the full verified pair set
    workDir.fold(Materialize.scratch("graft_ss")(run))(run)
  }

  /** Exact-cosine verification of (deduped) candidates against the
    * embedding store — the stream-static member of the foreachBatch
    * join. Identical output contract to [[Similarity.nearDupPairs]]:
    * (va, vb, sim) at cosine ≥ threshold, sim rounded to 6.
    */
  def verifyPairs(
      cand: DataFrame, emb: DataFrame, threshold: Double): DataFrame = {
    val v = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    cand.select("va", "vb").distinct()
      .join(v.select(col("vec_id").as("va"), col("v").as("xa")), "va")
      .join(v.select(col("vec_id").as("vb"), col("v").as("xb")), "vb")
      .select(col("va"), col("vb"),
        Similarity.cosine(col("xa"), col("xb")).as("sim"))
      .filter(Similarity.atLeast(col("sim"), threshold))
      .select(col("va"), col("vb"), round(col("sim"), 6).as("sim"))
  }
}
