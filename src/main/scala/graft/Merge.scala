package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Types._

/** The action-merge state machine — the heart of the engine.
  *
  * Reference `_merge_row` (rcache.py:196-222) combines the cached action for
  * a row-id with an incoming change's action; the payload is always the
  * incoming row's full after-image. We replicate the *code*, not the comment
  * (SURVEY.md §7.3 risk 2): the documented "error" cases silently coerce.
  *
  *   state transitions (old → new → merged):
  *     ∅       + a      → a          (rcache.py:209-210)
  *     insert  + delete → ∅          (annihilate, rcache.py:214-215)
  *     insert  + update → insert     (rcache.py:216-217)
  *     insert  + insert → insert     (fallthrough, rcache.py:222)
  *     delete  + insert → update     (rcache.py:218-219)
  *     update  + insert → update     (truncate heuristic, rcache.py:220-221)
  *     (update|delete) + (update|delete) → new  (fallthrough, rcache.py:222)
  *
  * The reference gets deterministic fold order for free from single-threaded
  * binlog arrival (cdc.py:100); after a shuffle only the monotone `seq`
  * restores it, so every compaction here sorts by seq within the (table, rid)
  * group before folding.
  *
  * Scale design: `compact` is ONE hash exchange on (table, rid), one sort
  * by (table, rid, seq, cdc_action), and a single streaming pass — the
  * per-key point-lookup join the reference does against Redis
  * (rcache.py:247, one HGETALL round-trip per row) becomes one distributed
  * sorted fold (`org.apache.spark.sql.graft.CompactFold`). The pass holds
  * only the current key's state and last row, so a hot key costs sort
  * time, not memory; its transitions are table lookups filled from
  * `mergeAction`, the only definition of the state machine.
  */
object Merge {

  /** Pure single-step merge of actions. `None` = row absent/annihilated. */
  def mergeAction(old: Option[String], nw: String): Option[String] = old match {
    case None => Some(nw)
    case Some(Insert) =>
      if (nw == Delete) None // insert+delete annihilates (rcache.py:214-215)
      else Some(Insert)      // insert+update→insert; insert+insert fallthrough
    case Some(_) =>          // update | delete
      if (nw == Insert) Some(Update) // delete/update + insert → update
      else Some(nw)                  // fallthrough last-write-wins
  }

  /** Pure single-step merge of full events (payload = incoming after-image). */
  def merge(old: Option[ChangeEvent], nw: ChangeEvent): Option[ChangeEvent] =
    mergeAction(old.map(_.cdc_action), nw.cdc_action).map(a => nw.copy(cdc_action = a))

  /** Fold a seq-ordered action sequence to the net action (None = no row). */
  def foldActions(actions: Seq[String]): Option[String] =
    actions.foldLeft(Option.empty[String])((acc, a) => mergeAction(acc, a))

  /** Last row per key by a monotone sequence (A3 set semantics: at most one
    * live row per rid, latest wins).
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Declarative batch compaction: net change per (table, rid).
    *
    * Input: a change-log DataFrame with `keyCols`, a monotone `seqCol`, an
    * action column, and arbitrary payload columns. Output: one row per key
    * that still has a net change, with the folded action, the latest payload
    * (after-image semantics, rcache.py:213 `return new`), and max(seq).
    * Annihilated keys (insert then delete) are ABSENT from the output —
    * matching the DEL/SREM tombstone removal (rcache.py:249-254).
    *
    * `keepNone = true` keeps the annihilated keys as `none` rows instead —
    * carrying their high-water max(seq) and NULL payload (there is no
    * after-image for a row that no longer exists). The evolving sink's
    * foldBatch persists exactly these rows as its replay guard: emitting
    * them from THIS fold saves the separate anti-join + high-water
    * union + re-join the r12 shape paid per micro-batch.
    *
    * Ties on seq fold in action order, as in [[MergeActionAgg]]; the seq
    * and payload come from the key's last change in (seq, action) order.
    */
  def compact(
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String = "seq",
      actionCol: String = "cdc_action",
      payloadCols: Seq[String] = Nil,
      keepNone: Boolean = false): DataFrame = {
    val payload =
      if (payloadCols.nonEmpty) payloadCols
      else changes.columns.toSeq.diff(keyCols :+ seqCol :+ actionCol)
    org.apache.spark.sql.graft.CompactFold(
      changes, keyCols, seqCol, actionCol, payload, keepNone)
  }
}

/** The merge fold as a registered SQL AGGREGATE (SURVEY.md §2.9: the
  * `Aggregator` → `udaf(...)` surface). Partial aggregation is a
  * commutative buffer union; the seq-sorted fold runs once in `finish`,
  * so shuffled/partitioned inputs give the same answer as ordered arrival
  * — the same (seq, action) order `Merge.compact`'s sorted pass folds in.
  * Register with `GraftExtensions.register(spark)` and use as
  * `graft_merge(seq, cdc_action)` in SQL; returns 'none' for annihilated
  * keys.
  */
object MergeActionAgg
    extends org.apache.spark.sql.expressions.Aggregator[
      (Long, String), Seq[(Long, String)], String] {
  // Vector buffer: effectively-constant :+ per row (a List-backed Seq would
  // make each append O(n) → O(n²) per key group)
  override def zero: Seq[(Long, String)] = Vector.empty
  override def reduce(b: Seq[(Long, String)], a: (Long, String)): Seq[(Long, String)] =
    b :+ a
  override def merge(
      b1: Seq[(Long, String)], b2: Seq[(Long, String)]): Seq[(Long, String)] =
    b1 ++ b2
  // secondary sort on the action string keeps the fold deterministic when
  // two changes share a seq value (partial-merge order is nondeterministic)
  override def finish(b: Seq[(Long, String)]): String =
    Merge.foldActions(b.sortBy(t => (t._1, t._2)).map(_._2))
      .getOrElse(Types.None_)
  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String)]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[String] =
    org.apache.spark.sql.Encoders.STRING
}
