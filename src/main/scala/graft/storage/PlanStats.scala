package graft.storage

/** Plan-time statistics (a boundary table, a bucket width, a manifest),
  * derived once per inventory of their source. Deriving one runs Spark
  * jobs on the driver, and an unchanged source gives the same value, so
  * each is kept under a key holding its source's inventory tag
  * (`Materialize.corpusTag`, `StoreDef.tag` or a file listing): a
  * landing, a rewrite or a config change moves the tag, and the next
  * call derives the value again.
  *
  * Values are plain driver values, never a DataFrame, so an entry is
  * bound to no session. The map is [[ParquetRead.lru]]'s: bounded, a
  * forgotten entry is derived again. Derivation runs outside the lock;
  * callers racing on one key may each derive the same value.
  */
object PlanStats {

  private val memo = ParquetRead.lru[Any, Any]()

  /** The value kept under `key`, else `derive`'s, then kept. */
  def apply[V](key: Any)(derive: => V): V =
    memo.synchronized(Option(memo.get(key))) match {
      case Some(v) => v.asInstanceOf[V]
      case None =>
        val v = derive
        memo.synchronized(memo.put(key, v))
        v
    }
}
