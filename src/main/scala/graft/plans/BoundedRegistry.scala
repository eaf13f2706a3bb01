package graft.plans

/** The optimizer registries' one store ([[BloomRegistry]],
  * [[JoinOrderRegistry]], [[MvRegistry]]): a synchronized,
  * insertion-ordered map from a per-call-unique column name to a
  * registered decision.  A long-lived session that never unregisters
  * must not accumulate entries without limit, so beyond `maxEntries`
  * the ELDEST registration is evicted — by then its consumer plan has
  * long since optimized, and every registry only ever forfeits an
  * optimization when an entry is missing (the unoptimized plan computes
  * the identical result).
  */
class BoundedRegistry[V](maxEntries: Int) {
  private val entries = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, V]() {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > maxEntries
    })

  def register(attrName: String, value: V): Unit = {
    entries.put(attrName, value); ()
  }

  def unregister(attrName: String): Unit = {
    entries.remove(attrName); ()
  }

  /** The registration bracket: run `register` (which registers
    * `attrName`), then `body`, then unregister `attrName` whether either
    * returned or threw.  For a `body` that runs its consumer plan before
    * returning; a lazily returned frame needs its entry after the call.
    */
  def registered[T](attrName: String)(register: => Unit)(body: => T): T =
    try { register; body } finally unregister(attrName)

  def lookup(attrName: String): Option[V] = Option(entries.get(attrName))

  def isEmpty: Boolean = entries.isEmpty

  def clear(): Unit = entries.clear()
}
