package graft.util

/** Per-call-unique names: a column marker the optimizer registries key
  * on, a scratch table, a memory-sink query, an observation.  Two
  * concurrent calls of one query must never share one, or one call's
  * cleanup would drop the other's entry mid-plan.
  */
object UniqueName {
  /** `prefix` followed by 12 random hex digits. */
  def apply(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
}
