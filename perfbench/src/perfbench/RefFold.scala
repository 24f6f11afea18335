package perfbench

/** The reference cache's action state machine (`_merge_row`,
  * rcache.py:196-222), written out independently of `graft.Merge` so the
  * benchmark checks the program against the reference rather than
  * against itself. `None` means the key is absent from the cache.
  *
  *   absent + a        -> a
  *   insert + delete   -> absent (annihilate)
  *   insert + update   -> insert
  *   insert + insert   -> insert
  *   delete + insert   -> update
  *   update + insert   -> update
  *   otherwise         -> the incoming action
  *
  * The payload is always the incoming change's after-image, so the latest
  * change of a key supplies every payload field.
  */
object RefFold {

  def step(old: Option[String], incoming: String): Option[String] =
    (old, incoming) match {
      case (None, a) => Some(a)
      case (Some("insert"), "delete") => None
      case (Some("insert"), _) => Some("insert")
      case (Some("delete" | "update"), "insert") => Some("update")
      case (_, a) => Some(a)
    }

  /** Net state of one key after a change sequence, with the index of the
    * change that supplies the after-image.
    */
  final case class Net(action: String, last: Long)

  /** Fold changes `from until until` (in order) into per-key state
    * `st`, in place. `keyOf` and `actionOf` give change i's key and
    * action. Annihilated keys are removed.
    */
  def fold(from: Long, until: Long, keyOf: Long => Long,
      actionOf: Long => String,
      st: scala.collection.mutable.HashMap[Long, Net] =
        scala.collection.mutable.HashMap.empty[Long, Net])
      : scala.collection.mutable.HashMap[Long, Net] = {
    var i = from
    while (i < until) {
      val k = keyOf(i)
      step(st.get(k).map(_.action), actionOf(i)) match {
        case Some(a) => st.update(k, Net(a, i))
        case None => st.remove(k)
      }
      i += 1
    }
    st
  }
}
