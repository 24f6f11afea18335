package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned-generation replacement for "rewrite some partitions of a live
  * directory" — the safe form of dynamic partition overwrite.
  *
  * The overwrite-in-place pattern this replaces had two structural flaws
  * (both observed, not theoretical — the round-13 `lake_compact` gate went
  * intermittently hash-red under battery load):
  *
  *  1. **The writing plan read the very files the overwrite deletes**, so
  *     correctness hinged on a forced checkpoint materializing 100% of the
  *     replacement before the first delete — and a `localCheckpoint`'s
  *     blocks are executor-pinned, non-fault-tolerant storage. Any
  *     eviction/loss mid-overwrite recomputes lineage over
  *     already-deleted files: silently lost or duplicated rows.
  *  2. **Readers listing the directory mid-rewrite saw partial state** —
  *     plain parquet has no transaction log, and dynamic overwrite deletes
  *     then re-adds partition contents file by file.
  *
  * The generation discipline removes the checkpoint dependency instead of
  * hardening it: the replacement is written to a HIDDEN sibling directory
  * inside the root (`.graft-gen-<uuid>` — Spark's file listing skips
  * dot-prefixed components, so readers never see it), while the source
  * files stay untouched for the whole job — pure lineage over stable
  * files, no materialization needed in ANY `spark.graft.materialize`
  * mode. [[commit]] then swaps each written leaf partition directory into
  * place with two metadata renames (old leaf → `.graft-old-<uuid>`, gen
  * leaf → root), atomic per leaf on HDFS and local filesystems.
  *
  * Reader guarantee (spec-pinned by `GenSwapSpec`'s concurrent-reader
  * test): a scan NEVER observes a mixed or half-rewritten leaf — every
  * leaf it reads is all-old or all-new. A reader can still (a) catch the
  * sub-ms window between a leaf's two renames and see that leaf absent,
  * or (b) have listed old files that a concurrent commit renames away
  * before its tasks run (FileNotFound — the failure mode dynamic
  * overwrite always had; retry the read). Closing those two windows as
  * well takes a log-structured table format (Iceberg/Delta), not a
  * filesystem layout.
  *
  * Crash safety ([[recover]], run by every [[begin]]): leftover `.graft-*`
  * dirs from a crashed run are healed before new work starts — partitions
  * evacuated but not yet replaced are renamed back, and (for the
  * unpartitioned root-file case) a write-ahead intent manifest lets
  * recovery delete partially-moved-in new files before restoring, so a
  * crash at ANY point yields either the old generation or the new one per
  * leaf — never a mix of duplicated rows. Unpartitioned commits are
  * atomic-or-rolled-back as a whole; partitioned commits are per-leaf
  * atomic (a crash can land some leaves new, some old — convergent for
  * every caller: compaction re-judges, the CDC sink replays the batch).
  *
  * Single-writer assumption (same as the overwrite it replaces): two
  * concurrent mutators of one directory race regardless of mechanism —
  * serialize maintenance passes per table.
  *
  * Object stores without atomic rename (raw S3): rename is copy+delete, so
  * the per-leaf swap degrades to the same non-atomicity dynamic overwrite
  * always had there — use a table format with a real transaction log
  * (Iceberg/Delta) on such stores; this helper targets HDFS-semantics
  * filesystems.
  */
object GenSwap {
  private val GenPrefix = ".graft-gen-"
  private val OldPrefix = ".graft-old-"
  /** Intent manifest for root-level (unpartitioned) swaps: the gen file
    * names about to move into the root, written BEFORE any root mutation.
    */
  private val ManifestName = "_ROOT_MANIFEST"

  final case class Gen(fs: FileSystem, root: Path, gen: Path, old: Path) {
    /** The staging directory: write the replacement generation here
      * (`df.write...parquet(genDir)`), optionally read it back (e.g. for
      * post-write stats — it is a plain parquet dir), then [[commit]].
      */
    def genDir: String = gen.toString
  }

  /** Schemes whose Hadoop FileSystem lacks atomic
    * `create(overwrite=false)` and/or atomic rename — the two primitives
    * the per-leaf swap and the lake's `_LOCK` guard are built on. The
    * plain S3 connectors do exists-then-PUT creates and copy+delete
    * renames, so on them the guard is not a mutex and a swap is not
    * atomic — a caveat that used to live only in scaladoc and would
    * otherwise be DISCOVERED in production. Checked at entry:
    * [[requireAtomicFs]] fails loudly with the remediation instead.
    * (HDFS, local, ABFS, and GCS-preconditions semantics all qualify;
    * unknown schemes pass under the caller's documented responsibility.)
    */
  private val NonAtomicSchemes = Set("s3", "s3a", "s3n")

  def requireAtomicFs(fs: FileSystem, path: Path, what: String): Unit = {
    val scheme = fs.makeQualified(path).toUri.getScheme
    if (scheme != null && NonAtomicSchemes.contains(scheme.toLowerCase))
      throw new UnsupportedOperationException(
        s"$what needs atomic create/rename, which '$scheme://' does not " +
          "provide (exists-then-PUT create, copy+delete rename). On " +
          "object storage use a log-structured table format " +
          "(Iceberg/Delta) or an external lock service; the swap/lock " +
          "protocol is correct on HDFS-semantics stores (HDFS, file, " +
          "ABFS, GCS preconditions).")
  }

  /** Failure-injection seam: invoked inside [[rewrite]] after the
    * generation is fully staged but before the swap commits — the widest
    * window in which a real crash leaves computed-but-uncommitted output.
    * Specs swap in a throwing hook; production never touches it.
    */
  private[graft] var afterStageHook: () => Unit = () => ()

  /** The one staged partition rewrite: [[begin]], run `write` into the
    * staging dir, list the written leaves, fire [[afterStageHook]], then
    * [[commit]] — dropping every `owned` leaf (relative path, e.g.
    * `bucket=3`) the rewrite left without a replacement. Any throw
    * aborts, leaving the root untouched. Returns the written leaves'
    * relative paths.
    */
  def rewrite(spark: SparkSession, dir: String, owned: Seq[String] = Nil)(
      write: String => Unit): Seq[String] = {
    val g = begin(spark, dir)
    try {
      write(g.genDir)
      val written = leaves(g.fs, g.gen).map(_._1)
      afterStageHook()
      commit(g, dropLeaves = owned.filterNot(written.toSet))
      written
    } catch { case t: Throwable => abort(g); throw t }
  }

  /** Heal leftovers of any crashed prior run, then mint fresh staging
    * paths. The root need not exist yet (first write).
    */
  private[graft] def begin(spark: SparkSession, dir: String): Gen = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAtomicFs(fs, root, "GenSwap (per-leaf atomic rename swap)")
    recover(fs, root)
    val id = java.util.UUID.randomUUID().toString
    Gen(fs, root,
      new Path(root, GenPrefix + id), new Path(root, OldPrefix + id))
  }

  /** Crash recovery: for each leftover `.graft-old-*` dir, first undo any
    * partial root-file move-in its intent manifest records, then rename
    * back every preserved leaf missing from the root; finally drop all
    * leftover staging dirs. Idempotent; no-op on a clean directory.
    *
    * WRITER-side only: every mutator runs it before its first listing or
    * read of the directory ("healed before new work starts"). A pure
    * READER must NOT call it — recovery racing a live commit would
    * "restore" a leaf the writer just evacuated. The corollary: between
    * a crash and the next write, a reader can see the crashed commit's
    * per-leaf mix (some leaves new, some old, an evacuated leaf absent)
    * — converged by the owning operator's next write (the CDC sink's
    * batch replay, compaction's re-judge, remove's re-run), which is the
    * same convergence those operators already rely on for the crash
    * itself.
    */
  def recover(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val children = fs.listStatus(root)
    for (st <- children
         if st.isDirectory && st.getPath.getName.startsWith(OldPrefix)) {
      val old = st.getPath
      val mf = new Path(old, ManifestName)
      if (fs.exists(mf)) {
        val in = fs.open(mf)
        val names =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        for (n <- names if n.nonEmpty) {
          val p = new Path(root, n)
          if (fs.exists(p)) fs.delete(p, false)
        }
      }
      for ((rel, _) <- leaves(fs, old)) {
        val dst = new Path(root, rel)
        if (!fs.exists(dst)) {
          val parent = dst.getParent
          if (!fs.exists(parent)) fs.mkdirs(parent)
          renameOrFail(fs, new Path(old, rel), dst)
        }
      }
      fs.delete(old, true)
    }
    for (st <- children
         if st.isDirectory && st.getPath.getName.startsWith(GenPrefix))
      fs.delete(st.getPath, true)
  }

  /** Swap the generation into place. Every leaf partition dir present in
    * the gen replaces its root counterpart (two renames); root-level data
    * files (unpartitioned layout) are swapped as a set behind the intent
    * manifest. Leaves absent from the gen are untouched — settled
    * partitions' files are never opened, moved, or rewritten. Staging
    * dirs are deleted at the end; their absence is the commit marker.
    */
  /** `dropLeaves`: leaf partition dirs to REMOVE as part of the same
    * commit (a rewrite that leaves a partition empty — e.g. every vector
    * of an IVF cell deleted — has no gen counterpart to swap in; plain
    * partitioned writes cannot express "now empty"). A drop is the
    * evacuation half of a replacement: the root leaf renames into the
    * old-generation staging dir and nothing moves in, so it is atomic
    * per leaf and covered by [[recover]] exactly like a replacement — a
    * crash before the commit point restores the leaf, after it the drop
    * is durable. A post-commit `fs.delete` would instead sit OUTSIDE
    * recovery: staging dirs gone = recover is a no-op, and the
    * should-have-been-deleted leaf survives with no converging replay.
    */
  private[graft] def commit(g: Gen, dropLeaves: Seq[String] = Nil): Unit = {
    val Gen(fs, root, gen, old) = g
    if (!fs.exists(root)) fs.mkdirs(root)
    val genLeaves = leaves(fs, gen)
    val rootFiles = genLeaves.collect { case (rel, false) => rel }
    val dirLeaves = genLeaves.collect { case (rel, true) => rel }
    if (rootFiles.nonEmpty) {
      fs.mkdirs(old)
      val tmp = new Path(old, "." + ManifestName + ".tmp")
      val os = fs.create(tmp, true)
      try os.write(rootFiles.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      renameOrFail(fs, tmp, new Path(old, ManifestName))
      // evacuate ALL current root-level data files (the unpartitioned
      // layout replaces the whole root set), then move the gen's in
      for (c <- fs.listStatus(root)
           if c.isFile && isDataName(c.getPath.getName))
        renameOrFail(fs, c.getPath, new Path(old, c.getPath.getName))
      for (rel <- rootFiles)
        renameOrFail(fs, new Path(gen, rel), new Path(root, rel))
    }
    for (rel <- dropLeaves) {
      val src = new Path(root, rel)
      if (fs.exists(src)) {
        val kept = new Path(old, rel)
        val parent = kept.getParent
        if (!fs.exists(parent)) fs.mkdirs(parent)
        renameOrFail(fs, src, kept)
      }
    }
    for (rel <- dirLeaves) {
      val dst = new Path(root, rel)
      if (fs.exists(dst)) {
        val kept = new Path(old, rel)
        val parent = kept.getParent
        if (!fs.exists(parent)) fs.mkdirs(parent)
        renameOrFail(fs, dst, kept)
      } else {
        val parent = dst.getParent
        if (!fs.exists(parent)) fs.mkdirs(parent)
      }
      renameOrFail(fs, new Path(gen, rel), dst)
    }
    fs.delete(old, true)
    fs.delete(gen, true)
  }

  /** Drop the staging dirs without touching the root (error paths). */
  private[graft] def abort(g: Gen): Unit = {
    g.fs.delete(g.gen, true)
    g.fs.delete(g.old, true)
  }

  /** Relative leaf units under `base`: (relPath, isDir) where isDir=false
    * is a data file directly at the base root (unpartitioned layout) and
    * isDir=true is a directory that directly contains data files (the
    * deepest `col=value` level of a partitioned layout). Metadata names
    * (`_SUCCESS`, dot-files, the manifest) are never leaves.
    */
  private[graft] def leaves(
      fs: FileSystem, base: Path): Seq[(String, Boolean)] = {
    if (!fs.exists(base)) return Nil
    val dirLeaves = scala.collection.mutable.ArrayBuffer.empty[String]
    val rootFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    // manual listStatus walk, NOT fs.listFiles(base, recursive=true): the
    // located-status iterator resolves block locations per file, which
    // measured ~8 ms/dir even on the local FS — half a second per commit
    // at 64 partition dirs, pure overhead for a rename planner that only
    // needs names
    def walk(dir: Path, rel: String): Unit = {
      var isLeaf = false
      for (st <- fs.listStatus(dir)) {
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (isDataName(n)) walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
        } else if (isDataName(n)) {
          if (rel.isEmpty) rootFiles += n else isLeaf = true
        }
      }
      if (isLeaf) dirLeaves += rel
    }
    walk(base, "")
    rootFiles.map(_ -> false).toSeq ++ dirLeaves.toSeq.map(_ -> true)
  }

  private[graft] def isDataName(n: String): Boolean =
    !n.startsWith(".") && !n.startsWith("_")

  private def renameOrFail(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IllegalStateException(
      s"GenSwap: rename $src -> $dst failed (fs returned false)")
}
